package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.TickRow
import graft.ts.Sources

/** Batch/streaming parity: the same operator run in simulation mode
  * (batch sorted scan) and realtime mode (the per-key fold on
  * transformWithState over micro-batches, killed and restarted from its
  * checkpoint by [[RestartParity]]) must produce identical results — the
  * reference's dual-execution guarantee (Execution-Modes.md). Test names
  * that say "both runtimes" predate the single streaming runtime: they
  * mean batch and streaming.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  import org.apache.spark.sql.{Encoder, Encoders}
  import graft.ts.TickStream
  import graft.operators.{Sequential, Stats}
  import graft.streaming.StatefulOps.{PairRow, TickRow2, ValOut}
  import RestartParity.same

  implicit val tickEnc: Encoder[TickRow] = Encoders.product[TickRow]
  implicit val tick2Enc: Encoder[TickRow2] = Encoders.product[TickRow2]

  private def rowsOf(x: TickStream): Seq[TickRow] =
    StatefulOps.toTickRows(x).collect().toSeq.sortBy(r => (r.tsMicros, r.seq))

  test("streaming EMA across micro-batches == batch Sequential.ema") {
    // the benchmark's flatMapGroupsWithState reference arm
    val ev = Sources.events(spark, TestSpark.sf)
    val batch = batchMap(Sequential.ema(ev, 0.2), "ema")
    val stream = RestartParity.run(rowsOf(ev), seed = 19)(StatefulOps.emaStream(_, 0.2))
      .map(o => (o.key, o.seq) -> o.ema).toMap
    assertParity("ema_par", batch, stream)
  }

  test("streaming gate buffers across micro-batches") {
    // key k: data at t1,t2 while closed; open at t3 → flush [1,2]; data t4 open → [4]
    val rows = Seq(
      TickRow("k", 1000L, 0, 1.0), TickRow("k", 2000L, 1, 2.0),
      TickRow("k", 3000L, -2, 1.0), // release open (seq<0 encoding)
      TickRow("k", 4000L, 3, 4.0))
    val out = RestartParity.run(rows, seed = 46)(StatefulOps.gateStream)
      .map(o => (o.tsMicros, o.values.toList)).sortBy(_._1)
    assert(out.toList == List((3000L, List(1.0, 2.0)), (4000L, List(4.0))))
  }

  // ---- batch ≡ stream parity matrix ---------------------------------------
  // The reference's core promise: simulation (batch) and realtime
  // (streaming) runs of the same operator produce identical results
  // (Execution-Modes.md). Each row runs one §2.3/§2.6 operator through
  // BOTH lowerings on the events fixture — the batch window/sorted-scan
  // and the streaming twin fed in seeded micro-batches with two
  // kill/restart cycles — and asserts per-(key, seq) bit-equality.

  private def batchMap(ts: TickStream, valueCol: String): Map[(String, Long), Double] = {
    val df = ts.df.select(
      org.apache.spark.sql.functions.col("key"),
      org.apache.spark.sql.functions.col("seq"),
      org.apache.spark.sql.functions.col(valueCol).cast("double"))
    df.collect().filterNot(_.isNullAt(2))
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  private def bySeq(out: Seq[ValOut]): Map[(String, Long), Double] =
    out.map(o => (o.key, o.seq) -> o.value).toMap

  private def assertParity[K](name: String, batch: Map[K, Double], stream: Map[K, Double]): Unit = {
    assert(stream.size == batch.size,
      s"$name: stream ${stream.size} rows vs batch ${batch.size}")
    batch.foreach { case (k, b) =>
      val s = stream.getOrElse(k, fail(s"$name: no stream row for $k"))
      assert(same(s, b), s"$name @ $k: stream $s vs batch $b")
    }
  }

  private def assertVecParity[K](name: String, batch: Map[K, Seq[Double]],
                                 stream: Map[K, Seq[Double]]): Unit = {
    assert(stream.size == batch.size, s"$name: ${stream.size} vs ${batch.size}")
    batch.foreach { case (k, b) =>
      val s = stream.getOrElse(k, fail(s"$name: no stream row for $k"))
      assert(s.length == b.length && s.zip(b).forall { case (x, y) => same(x, y) },
        s"$name @ $k: $s vs $b")
    }
  }

  test("batch≡stream parity matrix over the baselib + stats set") {
    val ev = Sources.events(spark, TestSpark.sf)
    // quantized variant forces consecutive dups; NaN variant forces drops
    val evQ = ev.mapValue(v => org.apache.spark.sql.functions.floor(v * 5.0))
    val evN = ev.mapValue(v => org.apache.spark.sql.functions
      .when(v < 0.1, org.apache.spark.sql.functions.lit(Double.NaN)).otherwise(v))
    val rows = rowsOf(ev)
    val rowsQ = rowsOf(evQ)
    val rowsN = rowsOf(evN)
    import StatefulOps.Steps

    val matrix: Seq[(String, Map[(String, Long), Double], Seq[TickRow], StatefulOps.Step)] = Seq(
      ("par_filter", batchMap(ev.where(org.apache.spark.sql.functions.col("value") > 0.5), "value"),
        rows, Steps.filter(_ > 0.5)),
      ("par_split", batchMap(ev.split(org.apache.spark.sql.functions.col("value") > 0.5)._2, "value"),
        rows, Steps.filter(v => !(v > 0.5))),
      ("par_apply", batchMap(ev.mapValue(v => v * 2.0 + 1.0), "value"),
        rows, Steps.map(v => v * 2.0 + 1.0)),
      ("par_dropnans", batchMap(evN.dropNans, "value"), rowsN, Steps.dropNans),
      ("par_times", batchMap(ev.times("t"), "t"), rows, Steps.times),
      ("par_count", batchMap(ev.runningCount(), "count"), rows, Steps.count),
      ("par_accum", batchMap(ev.accum(), "accum"), rows, Steps.accum),
      ("par_diff", batchMap(ev.diff(1), "diff"), rows, Steps.diff(1)),
      ("par_delay", batchMap(ev.delayTicks(3), "value"), rows, Steps.delayTicks(3)),
      ("par_firstn", batchMap(ev.firstN(5), "value"), rows, Steps.firstN(5)),
      ("par_dropdups", batchMap(evQ.dropDups(None), "value"), rowsQ, Steps.dropDups),
      ("par_dropdups_eps", batchMap(ev.dropDups(Some(0.3)), "value"), rows, Steps.dropDupsEps(0.3)),
      ("par_kahan", batchMap(Sequential.kahanCumsum(ev), "ksum"), rows, Steps.kahan),
      ("par_rolling_mean", batchMap(Stats.ticks(ev, 20, minWindow = 5).mean("m").done, "m"),
        rows, Steps.rollingMean(20, 5)),
      ("par_rolling_min", batchMap(Stats.ticks(ev, 10).min("mn").done, "mn"),
        rows, Steps.rollingMin(10)),
      ("par_rolling_max", batchMap(Stats.ticks(ev, 10).max("mx").done, "mx"),
        rows, Steps.rollingMax(10)),
      ("par_expanding_var", batchMap(Stats.expanding(ev).varSamp("v").done, "v"),
        rows, Steps.expandingVar),
      ("par_value_at", batchMap(ev.valueAt(3, "va"), "va"), rows, Steps.valueAt(3)),
      ("par_ema_var", batchMap(Sequential.emaVar(ev, 0.1), "ema_var"), rows, Steps.emaVar(0.1)),
      ("par_ema_halflife", batchMap(Sequential.emaHalflife(ev, 3600.0), "ema"),
        rows, Steps.emaHalflife(3600.0)),
      ("par_ema", batchMap(Sequential.ema(ev, 0.3), "ema"), rows, Steps.ema(0.3)),
      // csp.feedback: the decayed accumulator q_feedback runs in batch
      ("par_feedback", batchMap(Sequential.feedback(ev, "fb", 0.0) { (prev, row) =>
          prev * 0.9 + row.getDouble(row.fieldIndex(graft.ts.Tick.VALUE)) }, "fb"),
        rows, Steps.feedback(0.0)((p, v) => p * 0.9 + v)),
      // running-peak drawdown: batch arm = expanding max + one division
      ("par_drawdown", batchMap(TickStream(
          Stats.expanding(ev).max("mx").done.df.withColumn("dd",
            org.apache.spark.sql.functions.col(graft.ts.Tick.VALUE).cast("double") /
              org.apache.spark.sql.functions.col("mx").cast("double") - 1)), "dd"),
        rows, Steps.drawdown))

    matrix.zipWithIndex.foreach { case ((name, batch, data, step), i) =>
      assertParity(name, batch,
        bySeq(RestartParity.run(data, seed = 100 + i)(StatefulOps.scanStream(_, step))))
    }
  }

  test("batch≡stream parity: stats reset (expanding sum, reset-first ties)") {
    import org.apache.spark.sql.functions.col
    val ev = Sources.events(spark, TestSpark.sf)
    val data = TickStream(ev.df.filter(col("event_type") =!= "error"))
    val resets = TickStream(ev.df.filter(col("event_type") === "error"))
    val batch = batchMap(
      Stats.restoreKey(Stats.expanding(Stats.withReset(data, resets)).sum("rsum").done), "rsum")
    // markers: seq = -(seq+1) (avoids -0); scanStream's control-first tie
    // sort reproduces the batch epoch-partition's reset-first rule
    val markers = StatefulOps.toTickRows(resets).collect()
      .map(r => r.copy(seq = -(r.seq + 1), value = 0.0))
    val rows = (StatefulOps.toTickRows(data).collect() ++ markers).toSeq
      .sortBy(r => (r.tsMicros, r.seq >= 0, math.abs(r.seq)))
    assertParity("par_reset_sum", batch, bySeq(RestartParity.run(rows, seed = 185)(
      StatefulOps.scanStream(_, StatefulOps.Steps.resetSum))))
  }

  test("batch≡stream parity: two-input as-of family + bivariate ema_cov on BOTH runtimes") {
    // The stateful tail the r7 matrix left out: cross-stream operators
    // (sample / filter-by / binop / merge — genuinely TWO-input, lowered
    // as a tagged union), bivariate state (ema_cov) and the 3-input
    // struct_fromts, each from ONE Step2/StepP definition, asserted
    // against the batch kernel across two kill/restart cycles.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number, unix_micros}
    import graft.operators.AsOf

    val ev = Sources.events(spark, TestSpark.sf)
    // unique (key, ts): duplicate-timestamp CYCLE alignment is the batch
    // kernels' domain (covered by q_dupts_*); the streaming runner
    // processes each row as its own cycle
    val evU = TickStream(ev.df.withColumn("__rn",
        row_number().over(Window.partitionBy("key", "ts").orderBy("seq")))
      .filter(col("__rn") === 1).drop("__rn"))
    val refS = TickStream(evU.df.filter(col("seq") % 2 === 0))
    val priS = TickStream(evU.df.filter(col("seq") % 2 === 1))

    def tagged(inputs: TickStream*): Seq[TickRow2] = inputs.zipWithIndex.flatMap { case (x, src) =>
      StatefulOps.toTickRows(x).collect().map(r => TickRow2(r.key, r.tsMicros, r.seq, r.value, src))
    }.sortBy(r => (r.tsMicros, r.src, r.seq))

    // csp.sample(trigger, x): batch keyed by the trigger's (key, seq)
    val batchSample = batchMap(AsOf.sample(priS, refS), "value")
    // csp.filter(flag, x): flag = (ref value > 0.5), data = primary rows
    val flagS = refS.mapValue(v => v > 0.5)
    val batchFilterBy = batchMap(AsOf.filterBy(flagS, priS), "value")
    // cross-stream spread: batch regenerates seq as the cycle ordinal, so
    // compare keyed by (key, tsMicros) — unique per key by construction
    val batchBinop = AsOf.binop(refS, priS, (a, b) => a - b).df
      .select(col("key"), unix_micros(col("ts")), col("value").cast("double")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // merge on the disjoint-ts event split — per-cycle tie resolution
    // gets its own dup-ts fixture in the next test
    val batchMerge = batchMap(refS.merge(priS), "value")

    val twoInput = Seq(
      ("par2_sample", tagged(refS, priS), StatefulOps.Steps2.sample, batchSample, false),
      ("par2_filterby", tagged(flagS, priS), StatefulOps.Steps2.filterBy, batchFilterBy, false),
      ("par2_binop", tagged(refS, priS), StatefulOps.Steps2.binop(_ - _), batchBinop, true),
      ("par2_merge", tagged(refS, priS), StatefulOps.Steps2.merge, batchMerge, false))
    twoInput.zipWithIndex.foreach { case ((name, data, step, batch, byTs), i) =>
      val out = RestartParity.run(data, seed = 200 + i)(StatefulOps.scanStream2(_, step))
      assertParity(name, batch,
        out.map(o => (o.key, if (byTs) o.tsMicros else o.seq) -> o.value).toMap)
    }

    // bivariate ema_cov: one stream, two value lanes (x = value, y derived)
    val evY = TickStream(evU.df.withColumn("y",
      col("value").cast("double") * 0.7 + 2.0))
    val batchEmaCov = batchMap(Sequential.emaCov(evY, "y", 0.2), "ema_cov")
    val pairRows = evY.df.select(col("key"), unix_micros(col("ts")).as("tsMicros"),
        col("seq"), col("value").cast("double").as("x"), col("y")).collect()
      .map(r => PairRow(r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq.sortBy(r => (r.tsMicros, r.seq))
    implicit val pairEnc: Encoder[PairRow] = Encoders.product[PairRow]
    assertParity("parp_ema_cov", batchEmaCov, bySeq(RestartParity.run(pairRows, seed = 288)(
      StatefulOps.scanPairStream(_, StatefulOps.StepsP.emaCov(0.2)))))

    // struct_fromts: a THREE-input operator (two snapshot inputs + the
    // trigger) — the N-input generalization of the tagged-union lowering
    val refA = TickStream(evU.df.filter(col("seq") % 3 === 0))
    val refB = TickStream(evU.df.filter(col("seq") % 3 === 1))
    val trig = TickStream(evU.df.filter(col("seq") % 3 === 2))
    val batchStruct = graft.operators.AsOf.structFromTs(trig, Seq("a" -> refA, "b" -> refB))
      .df.select(col("key"), col("seq"), col("value.a"), col("value.b")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Seq(
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3))).toMap
    val struct = RestartParity.run(tagged(refA, refB, trig), seed = 328)(
      StatefulOps.structStream(_, 2))
    assertVecParity("par3_struct", batchStruct, struct.map(o => (o.key, o.seq) -> o.values).toMap)
  }

  test("batch≡stream parity: values_at/times_at history buffers on BOTH runtimes") {
    // The r8 matrix's last named gap (r7 verdict task 3): the tick-history
    // surfaces whose per-tick result is the ring buffer itself. Batch
    // truth is the collect_list ROWS-frame lowering.
    import org.apache.spark.sql.functions.col

    val ev = Sources.events(spark, TestSpark.sf)
    val rows = rowsOf(ev)

    def batchVec(ts: TickStream, vecCol: String): Map[(String, Long), Seq[Double]] =
      ts.df.select(col("key"), col("seq"), col(vecCol).cast("array<double>"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Double](2).toSeq).toMap

    def runVec(step: StatefulOps.StepV, seed: Long): Map[(String, Long), Seq[Double]] =
      RestartParity.run(rows, seed)(StatefulOps.scanVecStream(_, step))
        .map(o => (o.key, o.seq) -> o.values).toMap

    assertVecParity("parv_values_at", batchVec(ev.valuesAt(5, "vs"), "vs"),
      runVec(StatefulOps.StepsV.valuesAt(5), seed = 381))
    assertVecParity("parv_times_at", batchVec(ev.timesAt(5, "ts5"), "ts5"),
      runVec(StatefulOps.StepsV.timesAt(5), seed = 388))
  }

  test("batch≡stream parity: merge resolves duplicate-ts ties per CYCLE on both runtimes") {
    // the baselibimpl.cpp:167-186 rule: left wins only the cycles it
    // occupies — right's surplus same-ts cycles still emit. Fixture:
    //   ts=2000 has TWO left cycles (v2, v3) and THREE right cycles
    //   (v20, v30, v50): cycles 0/1 go left, cycle 2 emits right v50.
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    import spark.implicits._
    val left = TickStream(Seq(
      ("k", ts(1000), 0L, 1.0), ("k", ts(2000), 2L, 2.0), ("k", ts(2000), 4L, 3.0))
      .toDF("key", "ts", "seq", "value"))
    val right = TickStream(Seq(
      ("k", ts(1000), 1L, 10.0), ("k", ts(2000), 3L, 20.0), ("k", ts(2000), 5L, 30.0),
      ("k", ts(2000), 7L, 50.0), ("k", ts(3000), 6L, 40.0))
      .toDF("key", "ts", "seq", "value"))
    val expected = left.merge(right).df.select("seq", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(expected == Map(0L -> 1.0, 2L -> 2.0, 4L -> 3.0, 7L -> 50.0, 6L -> 40.0),
      s"batch merge truth: $expected")

    val rows = (StatefulOps.toTickRows(left).collect().map(r => TickRow2(r.key, r.tsMicros, r.seq, r.value, 0)) ++
      StatefulOps.toTickRows(right).collect().map(r => TickRow2(r.key, r.tsMicros, r.seq, r.value, 1)))
      .toSeq.sortBy(r => (r.tsMicros, r.src, r.seq))
    // the cycle counts at a timestamp live in the state, so a cut (or a
    // restart) between two same-ts cycles resolves them the same way
    val out = RestartParity.run(rows, seed = 396)(
      StatefulOps.scanStream2(_, StatefulOps.Steps2.merge))
    assert(out.map(o => o.seq -> o.value).toMap == expected)
  }

  test("streaming as-of sample across micro-batches") {
    // trigger before ref → nothing; ref arrives; trigger samples 42.0
    // from state; new ref; the same-ts trigger sees it
    val rows = Seq(TickRow("k", 1000L, 1, 0.0), TickRow("k", 2000L, -1, 42.0),
      TickRow("k", 3000L, 2, 0.0), TickRow("k", 4000L, -3, 7.0), TickRow("k", 4000L, 4, 0.0))
    val out = RestartParity.run(rows, seed = 441)(StatefulOps.sampleStream)
      .map(o => (o.tsMicros, o.value)).sortBy(_._1)
    assert(out.toList == List((3000L, 42.0), (4000L, 7.0)))
  }

  test("flagship pipeline (sample → rolling mean5 → ema 0.3) on BOTH runtimes == batch") {
    // The capstone composition: the README/SparkEntry flagship graph —
    // purchase values as-of-sampled onto clicks, 5-tick rolling mean,
    // ema(0.3) — as ONE composed state machine per output
    // (Steps2.sampleThen), asserted equal to the batch pipeline
    // (AsOf.sample → Stats.ticks.mean → Sequential.ema) per (key, seq).
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    import graft.operators.AsOf

    val ev = Sources.events(spark, TestSpark.sf)
    val evU = TickStream(ev.df.withColumn("__rn",
        row_number().over(Window.partitionBy("key", "ts").orderBy("seq")))
      .filter(col("__rn") === 1).drop("__rn"))
    val clicks = TickStream(evU.df.filter(col("event_type") === "click"))
    val purchases = TickStream(evU.df.filter(col("event_type") === "purchase"))

    val sampled = AsOf.sample(clicks, purchases)
    val st = Stats.ticks(sampled, 5).mean("roll_mean").done
    val batchMean = batchMap(st, "roll_mean")
    val batchEma = batchMap(Sequential.ema(st, 0.3), "ema")

    val data = (StatefulOps.toTickRows(purchases).collect().map(r =>
        TickRow2(r.key, r.tsMicros, r.seq, r.value, 0)) ++
      StatefulOps.toTickRows(clicks).collect().map(r =>
        TickRow2(r.key, r.tsMicros, r.seq, r.value, 1))).toSeq
      .sortBy(r => (r.tsMicros, r.src, r.seq))

    val meanStep = StatefulOps.Steps2.sampleThen(StatefulOps.Steps.rollingMean(5))
    val emaStep = StatefulOps.Steps2.sampleThen(StatefulOps.Steps.ema(0.3))
    assertParity("flagship_mean", batchMean,
      bySeq(RestartParity.run(data, seed = 508)(StatefulOps.scanStream2(_, meanStep))))
    assertParity("flagship_ema", batchEma,
      bySeq(RestartParity.run(data, seed = 509)(StatefulOps.scanStream2(_, emaStep))))
  }

  test("batch≡stream parity: OHLC bar builder (barsFrame) across micro-batches") {
    import org.apache.spark.sql.functions._
    import graft.streaming.WindowedAggs
    implicit val sq = spark.sqlContext
    import sq.sparkSession.implicits._
    // ticks straddle three 10s bars per key; ord breaks a same-ts tie
    val rows = (0 until 120).map { i =>
      TickRow(s"u${i % 3}", i.toLong * 500000L + 7, i.toLong, ((i * 37) % 100) / 4.0)
    } :+ TickRow("u0", 59500007L, 999L, -5.0) // same ts as i=119's slot owner
    def frame(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key"), col("tsMicros"), col("seq").as("ord"),
        col("value").cast("decimal(30,2)").as("value"))
    def canon(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.toSeq.drop(2)).toMap
    val batch = canon(WindowedAggs.barsFrame(frame(rows.toDF()), "10 seconds").collect())
    val mem = MemoryStream[TickRow]
    val q = WindowedAggs.barsFrame(frame(mem.toDS().toDF()), "10 seconds")
      .writeStream.outputMode("complete").format("memory").queryName("bars_par")
      .trigger(Trigger.ProcessingTime(0)).start()
    rows.grouped(30).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = canon(spark.table("bars_par").collect())
    q.stop()
    assert(stream == batch)
    // a bar that accumulated over >1 micro-batch still has first-tick open
    assert(batch.nonEmpty && stream.size == batch.size)
  }

  test("batch≡stream parity: VWAP builder (vwapFrame) across micro-batches") {
    import org.apache.spark.sql.functions._
    import graft.streaming.WindowedAggs
    implicit val sq = spark.sqlContext
    import sq.sparkSession.implicits._
    val rows = (0 until 90).map { i =>
      TickRow(s"u${i % 3}", i.toLong * 500000L + 7, i.toLong, ((i * 37) % 100) / 4.0)
    }
    // qty from seq residues — exactly the q_window_vwap recipe
    def frame(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key"), col("tsMicros"),
        col("value").cast("decimal(18,2)").as("value"),
        ((col("seq") % 5) + 1).cast("decimal(18,2)").as("qty"))
    def canon(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.toSeq.drop(2)).toMap
    val batch = canon(WindowedAggs.vwapFrame(frame(rows.toDF()), "10 seconds").collect())
    val mem = MemoryStream[TickRow]
    val q = WindowedAggs.vwapFrame(frame(mem.toDS().toDF()), "10 seconds")
      .writeStream.outputMode("complete").format("memory").queryName("vwap_par")
      .trigger(Trigger.ProcessingTime(0)).start()
    rows.grouped(25).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = canon(spark.table("vwap_par").collect())
    q.stop()
    // decimal operand sums make the division bit-identical regardless of
    // which micro-batch each tick arrived in
    assert(stream == batch && batch.nonEmpty)
  }

  test("batch≡stream parity: PSI drift monitor (psiStream) + hand-walked window") {
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingDrift
    implicit val sq = spark.sqlContext
    import sq.sparkSession.implicits._
    val baseline = Seq(1.0, 3.0, 6.0, 8.0).toDF("v") // bins(0..1]: 2 and 2
    val rows = (0 until 60).map { i =>
      TickRow(s"u${i % 2}", i.toLong * 500000L, i.toLong, (i % 10).toDouble)
    }
    def run(df: org.apache.spark.sql.DataFrame) = StreamingDrift.psiStream(
      df, baseline, "v", lo = 0, hi = 10, bins = 2, windowLen = "10 seconds")
    val batch = run(rows.toDF()).collect()
      .map(r => r.getTimestamp(0).getTime -> (r.getLong(1), r.getDouble(2))).toMap
    val mem = MemoryStream[TickRow]
    val q = run(mem.toDS().toDF())
      .writeStream.outputMode("complete").format("memory").queryName("psi_par")
      .trigger(Trigger.ProcessingTime(0)).start()
    rows.grouped(17).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = spark.table("psi_par").collect()
      .map(r => r.getTimestamp(0).getTime -> (r.getLong(1), r.getDouble(2))).toMap
    q.stop()
    assert(stream == batch && batch.nonEmpty)
    // hand walk: each 10 s window holds 20 ticks of values 0..9 -> bins
    // (10, 10); baseline (2, 2) -> pa = 11/22 = pe = 3/6 -> psi = 0
    assert(batch.values.forall { case (n, psi) => n == 20L && math.abs(psi) < 1e-15 })
    // shifted stream: all mass in the high bin -> positive drift
    val hi = Seq(TickRow("u0", 1000000L, 1L, 9.0), TickRow("u0", 2000000L, 2L, 9.5))
    val d = run(hi.toDF()).head.getDouble(2)
    // counts (0,2), n=2: pa = (1/4, 3/4) vs pe = (1/2, 1/2)
    // psi = (−.25)·ln(.5) + (.25)·ln(1.5) ≈ 0.275
    assert(math.abs(d - (-0.25 * math.log(0.5) + 0.25 * math.log(1.5))) < 1e-12)
  }
}
