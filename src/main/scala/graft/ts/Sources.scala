package graft.ts

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Input adapters (reference §2.1): curve / const / timer / null_ts and the
  * driver test tables. All produce the canonical tick schema (Tick.scala).
  *
  * In the reference these are engine input adapters
  * (`csp/baselib.py:73-83`, `csp/curve.py:16-60`); here a source is just a
  * DataFrame with `(key, ts, seq, value…)` columns — batch replay of
  * history IS the simulation mode, Catalyst replaces the hand-rolled
  * scheduler.
  *
  * Parquet sources ([[events]], [[table]], [[parquet]]) are resolved once
  * per `SparkSession`: the first read of a path lists its files, resolves
  * the data source and runs Parquet's schema-inference job; later reads
  * in the same session get the same resolved DataFrame back and start no
  * Spark job. A change to the path's file listing (names, sizes, mtimes)
  * or to the session's SQL conf resolves the path again, so a rewritten
  * table is never served with its old schema. The check is one Hadoop
  * `FileSystem` listing, the same for every path scheme.
  */
object Sources {

  /** csp.curve (reference `csp/curve.py:16-60`): replay an explicit list of
    * (time, value) ticks. seq increments in list order so duplicate
    * timestamps keep their scheduling order (Execution-Modes.md).
    */
  def curve(spark: SparkSession, key: String, points: Seq[(String, Double)]): TickStream = {
    val rows = points.zipWithIndex.map { case ((t, v), i) =>
      (key, Timestamp.valueOf(t.replace("T", " ")), i.toLong, v)
    }
    import spark.implicits._
    TickStream(rows.toDF(Tick.KEY, Tick.TS, Tick.SEQ, Tick.VALUE))
  }

  /** Generic curve over any Spark-typed value (Boolean, String, arrays…). */
  def curveOf[T](spark: SparkSession, key: String, points: Seq[(String, T)],
                 valueType: DataType): TickStream = {
    val rows = points.zipWithIndex.map { case ((t, v), i) =>
      org.apache.spark.sql.Row(key, Timestamp.valueOf(t.replace("T", " ")), i.toLong, v)
    }
    val schema = StructType(Seq(
      StructField(Tick.KEY, StringType), StructField(Tick.TS, TimestampType),
      StructField(Tick.SEQ, LongType), StructField(Tick.VALUE, valueType)))
    TickStream(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema))
  }

  /** csp.const (reference `csp/baselib.py:73`): one tick at `at`. */
  def const(spark: SparkSession, key: String, value: Double, at: String): TickStream =
    curve(spark, key, Seq(at -> value))

  /** csp.timer (reference `csp/baselib.py:74-83`): periodic tick every
    * `intervalSec` from start to end. Batch: `sequence` + `explode` —
    * generated distributed, no driver loop.
    */
  def timer(spark: SparkSession, key: String, start: String, end: String,
            intervalSec: Long, value: Double = 1.0): TickStream = {
    val startTs = Timestamp.valueOf(start.replace("T", " "))
    val df = spark
      .range(1)
      .select(
        explode(
          sequence(
            lit(startTs),
            lit(Timestamp.valueOf(end.replace("T", " "))),
            expr(s"interval $intervalSec seconds"))).as(Tick.TS))
      .select(
        lit(key).as(Tick.KEY),
        col(Tick.TS),
        // seq is arithmetic (tick index on the grid) — no window, so the
        // generator stays embarrassingly parallel
        ((unix_micros(col(Tick.TS)) - unix_micros(lit(startTs)))
          / (intervalSec * 1000000L)).cast(LongType).as(Tick.SEQ),
        lit(value).as(Tick.VALUE))
    TickStream(df)
  }

  /** Wall-time stamp for a late realtime timer tick — the
    * `allow_deviation` rule (reference `csp/baselib.py:74-83`): a timer
    * whose engine fell behind by MORE than one interval fires at wall
    * time (`now`) instead of back-dating to its scheduled grid time;
    * on-time ticks (lag ≤ interval) keep the exact grid stamp either
    * way. Pure in (scheduled, now) so the rule is unit-testable; the
    * streaming shim passes `current_timestamp()` as `now`. */
  def deviatedTs(scheduled: Column, now: Column, intervalMicros: Long): Column =
    when(unix_micros(now) - unix_micros(scheduled) > intervalMicros, now)
      .otherwise(scheduled)

  /** csp.timer realtime shim (reference `csp/baselib.py:74-83`,
    * `allow_deviation` knob): a streaming tick grid over Spark's `rate`
    * source. The rate source's native timestamps ARE the scheduled grid
    * (start + n·interval, regardless of engine lag) — csp's
    * `allow_deviation=False` back-dating behavior; `allowDeviation=true`
    * re-stamps ticks that are late by more than one interval with wall
    * time via [[deviatedTs]]. Intervals must be a whole number of
    * seconds or a whole divisor of one second (the rate source emits on
    * second boundaries). Batch/simulation timers are exact by
    * construction — use [[timer]]. */
  def timerStream(spark: SparkSession, key: String, intervalMicros: Long,
                  value: Double = 1.0, allowDeviation: Boolean = false): DataFrame = {
    require(intervalMicros > 0, "csp.timer interval must be > 0")
    val perSec = 1000000L % intervalMicros == 0
    require(perSec || intervalMicros % 1000000L == 0,
      s"timerStream interval must divide or be a multiple of 1s, got ${intervalMicros}µs")
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", if (perSec) 1000000L / intervalMicros else 1L)
      .load() // (timestamp: scheduled grid time, value: tick ordinal)
    val grid =
      if (perSec) rate
      else { // slow timers: keep every k-th one-per-second row
        val k = intervalMicros / 1000000L
        rate.filter(col("value") % k === 0).withColumn("value", col("value") / k)
      }
    val ts = if (allowDeviation)
      deviatedTs(col("timestamp"), current_timestamp(), intervalMicros)
    else col("timestamp")
    grid.select(lit(key).as(Tick.KEY), ts.as(Tick.TS),
      col("value").cast(LongType).as(Tick.SEQ), lit(value).as(Tick.VALUE))
  }

  /** csp.null_ts (reference `csp/baselib.py:544-551`): never ticks. */
  def nullTs(spark: SparkSession): TickStream = {
    val schema = StructType(Seq(
      StructField(Tick.KEY, StringType), StructField(Tick.TS, TimestampType),
      StructField(Tick.SEQ, LongType), StructField(Tick.VALUE, DoubleType)))
    TickStream(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }

  /** The driver `events` table as a keyed tick stream: key = user_id,
    * seq = event_id (globally monotone ⇒ preserves insertion order for
    * duplicate timestamps). Equivalent of a managed sim adapter demuxing
    * one source by symbol (reference `csp/impl/adaptermanager.py:7-45`) —
    * in Spark that demux is just the partitioning axis.
    *
    * The raw parquet carries nanosecond timestamps; with nanosAsLong they
    * arrive as Long epoch-nanos. We keep `tsNanos` for full fidelity and
    * derive microsecond `ts` (SURVEY §1.2 nanosecond note).
    */
  def events(spark: SparkSession, sfDir: String): TickStream = {
    val path = s"$sfDir/events.parquet"
    val inferred = resolve(spark, path)
    // tz-less fixtures infer as NTZ when inferTimestampNTZ is on (i.e.
    // outside GraftSession's conf). A cast NTZ→LTZ would re-interpret the
    // wall clock in the SESSION timezone, diverging from the conf path
    // under non-UTC sessions; instead re-read with `ts` forced to
    // TimestampType — the parquet micros then decode as UTC-epoch
    // instants, byte-identical to the inferTimestampNTZ=false path,
    // independent of session timezone.
    val raw = inferred.schema("ts").dataType match {
      case TimestampNTZType =>
        val forced = StructType(inferred.schema.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f))
        resolve(spark, path, Some(forced))
      case _ => inferred
    }
    val tsCol = raw.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000")) // integral div: Long/Long via `/` is double → precision loss at epoch-nanos magnitude
      case _        => col("ts")
    }
    val tsNanos = raw.schema("ts").dataType match {
      case LongType => col("ts")
      case _        => unix_micros(tsCol) * 1000L
    }
    TickStream(raw.select(
      col("user_id").cast(StringType).as(Tick.KEY),
      tsCol.as(Tick.TS),
      tsNanos.as("tsNanos"),
      col("event_id").as(Tick.SEQ),
      col("value").as(Tick.VALUE),
      col("event_type"),
      col("props")))
  }

  /** Generic PULL adapter (reference `csp/impl/pulladapter.py` +
    * `adaptermanager.py:7-45`): ANY DataFrame whose rows carry a symbol
    * and a time accessor becomes a replayable tick source — symbol column
    * → key, time column → ts, natural sequence column or a derived
    * per-key row_number. The parquet / JDBC / CSV readers are exactly
    * this mapping composed over their loaders; batch replay of the rows
    * in (key, ts, seq) order IS the simulation run. */
  def fromDataFrame(raw: DataFrame, symbolColumn: String, timeColumn: String,
                    seqColumn: Option[String] = None): TickStream = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(symbolColumn)).orderBy(col(timeColumn))
    val seqCol = seqColumn.map(col(_).cast(LongType))
      .getOrElse((row_number().over(w) - 1).cast(LongType))
    val payload = raw.columns
      .filterNot(c => c == symbolColumn || c == timeColumn || seqColumn.contains(c)).map(col)
    TickStream(raw.select(
      Seq(col(symbolColumn).cast(StringType).as(Tick.KEY),
          col(timeColumn).cast(TimestampType).as(Tick.TS), seqCol.as(Tick.SEQ)) ++ payload: _*))
  }

  /** Generic parquet reader in the shape of the reference's ParquetReader
    * (`csp/adapters/parquet.py:109-357`). */
  def parquet(spark: SparkSession, path: String, symbolColumn: String,
              timeColumn: String, seqColumn: Option[String] = None): TickStream =
    fromDataFrame(resolve(spark, path), symbolColumn, timeColumn, seqColumn)

  /** Load a driver TPC-H-ish table as a plain DataFrame. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    resolve(spark, s"$sfDir/$name.parquet")

  /** A path's resolved relation and what it was resolved under: the
    * sorted (file, size, mtime) listing and the session's SQL conf. */
  private final case class Resolved(listing: Seq[(String, Long, Long)],
                                    conf: Map[String, String], df: DataFrame)

  /** Resolved relations by (session, path, user schema), least recently
    * used first; at most [[MaxResolved]] of them across all sessions. */
  private val MaxResolved = 64
  private val resolved =
    new java.util.LinkedHashMap[(SparkSession, String, Option[StructType]), Resolved](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, Option[StructType]), Resolved]): Boolean =
        size() > MaxResolved
    }

  /** The one Parquet reader of the sources: the session's relation for
    * `path` (read with `schema` if given), resolved again only when the
    * path's file listing or the session's SQL conf has changed since.
    * Entries of stopped sessions are dropped; a read that throws leaves
    * nothing behind. */
  private def resolve(spark: SparkSession, path: String,
                      schema: Option[StructType] = None): DataFrame = {
    val key = (spark, path, schema)
    // listed before the read: a change that lands during it shows as a
    // stale listing on the next call, never as a stale relation
    val listing = fileListing(spark, path)
    val conf = spark.conf.getAll
    resolved.synchronized {
      resolved.keySet.removeIf(_._1.sparkContext.isStopped)
      Option(resolved.get(key)).filter(r => r.listing == listing && r.conf == conf)
    }.map(_.df).getOrElse {
      val df = schema.fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))
      resolved.synchronized(resolved.put(key, Resolved(listing, conf, df)))
      df
    }
  }

  /** (file, size, mtime) of every file under `path` (a glob is expanded),
    * sorted; empty when nothing matches. */
  private def fileListing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    Option(fs.globStatus(p)).toSeq.flatten.flatMap(files).sorted
  }

  // ---- seeded random sources (reference csp/random.py:18,70,135) ------
  // Deterministic across runs AND partitions: randomness derives from a
  // counter-mode hash of (row-id, seed), not from RNG state — so
  // generation distributes over executors with no sequential dependency
  // (csp generates these single-threaded; at scale the hash-counter
  // construction is the only shape that parallelizes reproducibly).
  //
  // The mixer is splitmix-style with 32-BIT multiply constants: every step
  // is expressible in ANSI SQL via 128-bit (HUGEINT) mod-2^64 arithmetic
  // (a 64×32-bit product fits 96 bits), so an external engine can replay
  // the draws bit-exactly and oracle-check the downstream math — xxhash64
  // has no SQL twin. Java long mult/add wrap ≡ unsigned mod 2^64; shifts
  // are unsigned.

  private def unit(idCol: Column, seed: Long): Column =
    graft.functions.VectorExprs.unitDraw(idCol, seed)

  /** Distributed running sum of `valueCol` in `idCol` order, as a two-pass
    * per-block scan: in-block window sums (64k ids per block) + the tiny
    * cumulated block offsets broadcast back. Deterministic — every
    * addition follows id order, never shuffle-merge order. The naive
    * single global window would funnel the whole generator through one
    * partition. Appends column `as`. */
  private def blockCumsum(df: DataFrame, valueCol: Column, idCol: Column,
                          as: String, lanes: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blockSize = 1L << 16
    val tagged = df.withColumn("__blk", (idCol / blockSize).cast(LongType))
      .withColumn("__v", valueCol)
    val laneCols = lanes.map(col)
    val wb = Window.partitionBy(laneCols :+ col("__blk"): _*).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = tagged.withColumn("__local", sum(col("__v")).over(wb))
    // per-lane single partition over the tiny block-total set; the pmod
    // keeps the spec non-foldable (a literal would be stripped by
    // EliminateWindowPartitions)
    val wOff = Window.partitionBy(laneCols :+ pmod(col("__blk"), lit(1L)): _*).orderBy("__blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(laneCols :+ col("__blk"): _*)
      .agg(max_by(col("__local"), idCol).as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(wOff), lit(0.0)))
      .select(laneCols :+ col("__blk") :+ col("__off"): _*)
    local.join(broadcast(offsets), lanes :+ "__blk")
      .withColumn(as, col("__local") + col("__off"))
      .drop("__blk", "__v", "__local", "__off")
  }

  /** csp.random.poisson_timer: ticks with exponential inter-arrival at
    * `ratePerSec`, from `start` until `end`.
    *
    * The arrival-time prefix sum is computed as a two-pass per-block scan
    * (running sum within 64k-id blocks, then tiny block offsets cumulated
    * and broadcast back) — the naive single global window would funnel the
    * whole stream through one partition. Deterministic: every sum follows
    * id order (within-block window scans + ordered block cumsum), never a
    * shuffle-order-dependent reduce. */
  def poissonTimer(spark: SparkSession, key: String, start: String, end: String,
                   ratePerSec: Double, seed: Long = 42L): TickStream = {
    import org.apache.spark.sql.expressions.Window
    val startTs = Timestamp.valueOf(start.replace("T", " "))
    val endTs = Timestamp.valueOf(end.replace("T", " "))
    val durSec = (endTs.getTime - startTs.getTime) / 1000.0
    val n = math.max(16L, (durSec * ratePerSec * 3).toLong) // 3× headroom, then filter
    val gaps = spark.range(n).select(
      col("id"),
      (-log(lit(1.0) - unit(col("id"), seed)) / lit(ratePerSec)).as("gap"))
    TickStream(blockCumsum(gaps, col("gap"), col("id"), "offsetSec")
      .withColumn(Tick.TS, timestamp_micros(unix_micros(lit(startTs)) + (col("offsetSec") * 1e6).cast(LongType)))
      .filter(col(Tick.TS) <= lit(endTs))
      .select(lit(key).as(Tick.KEY), col(Tick.TS), col("id").as(Tick.SEQ), lit(1.0).as(Tick.VALUE)))
  }

  /** csp.random.brownian_motion_1d: arithmetic Brownian path sampled every
    * `intervalSec` (Box–Muller increments, seed-deterministic). Path
    * integration via the same per-block prefix scan as [[poissonTimer]] —
    * a window over the generator's constant key would be stripped to an
    * undeclared global window (and serialize the whole path anyway). */
  /** csp.random.brownian_motion (multi-dimensional, `csp/random.py:70`):
    * correlated Brownian path with drift vector and covariance matrix —
    * increments ~ N(drift·dt, cov·dt) via the Cholesky factor L of cov
    * (the reference decomposes the covariance the same way,
    * `random.py:49-68`), z-draws from the counter-mode mixer (draw index
    * = step·dim + lane, so every lane of every step has independent
    * draws and generation stays embarrassingly parallel). Path
    * integration = per-LANE block prefix scan (explode lanes → cumsum
    * keyed by lane → regroup), so no lane ever funnels through another's
    * partition. Constant drift/cov — the reference's time-varying
    * parameter streams are a scan-state variant of the same kernel. */
  def brownianNd(spark: SparkSession, key: String, start: String, end: String,
                 intervalSec: Long, drift: Seq[Double], cov: Seq[Seq[Double]],
                 seed: Long = 42L): TickStream = {
    val dim = drift.size
    require(cov.size == dim && cov.forall(_.size == dim),
      s"covariance must be ${dim}x$dim")
    val L = cholesky(cov)
    val dt = intervalSec.toDouble
    val grid = timer(spark, key, start, end, intervalSec).df
    def gauss(idx: Column): Column =
      sqrt(lit(-2.0) * log(greatest(unit(idx, seed), lit(1e-300)))) *
        cos(lit(2 * math.Pi) * unit(idx, seed + 1))
    val z = transform(sequence(lit(0), lit(dim - 1)),
      j => gauss(col(Tick.SEQ) * lit(dim.toLong) + j.cast(LongType)))
    val lLit = typedlit(L.map(_.toSeq).toSeq)
    val driftLit = typedlit(drift)
    val inc = transform(sequence(lit(0), lit(dim - 1)), i =>
      when(col(Tick.SEQ) === 0, lit(0.0)).otherwise(
        element_at(driftLit, i + 1) * lit(dt) + lit(math.sqrt(dt)) *
          aggregate(zip_with(element_at(lLit, i + 1), col("__z"), _ * _),
            lit(0.0), _ + _)))
    val lanes = grid.withColumn("__z", z).withColumn("__inc", inc)
      .select(col(Tick.KEY), col(Tick.TS), col(Tick.SEQ),
        posexplode(col("__inc")).as(Seq("__lane", "__v")))
    val summed = blockCumsum(lanes, col("__v"), col(Tick.SEQ), "__path",
      lanes = Seq("__lane"))
    TickStream(summed
      .groupBy(col(Tick.KEY), col(Tick.TS), col(Tick.SEQ))
      .agg(transform(array_sort(collect_list(struct(col("__lane"), col("__path")))),
        e => e.getField("__path")).as(Tick.VALUE)))
  }

  /** Lower-triangular Cholesky factor of a symmetric positive-definite
    * matrix (driver-side — the matrix is dim×dim tiny). */
  private def cholesky(cov: Seq[Seq[Double]]): Array[Array[Double]] = {
    val n = cov.size
    val l = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- 0 to i) {
      val s = (0 until j).map(k => l(i)(k) * l(j)(k)).sum
      if (i == j) {
        val d = cov(i)(i) - s
        require(d > 0, s"covariance is not positive definite (pivot $i)")
        l(i)(i) = math.sqrt(d)
      } else l(i)(j) = (cov(i)(j) - s) / l(j)(j)
    }
    l
  }

  def brownian(spark: SparkSession, key: String, start: String, end: String,
               intervalSec: Long, mu: Double = 0.0, sigma: Double = 1.0,
               seed: Long = 42L): TickStream = {
    val grid = timer(spark, key, start, end, intervalSec).df
    val dt = intervalSec.toDouble
    val u1 = unit(col(Tick.SEQ), seed)
    val u2 = unit(col(Tick.SEQ), seed + 1)
    val gauss = sqrt(lit(-2.0) * log(greatest(u1, lit(1e-300)))) * cos(lit(2 * math.Pi) * u2)
    val withInc = grid
      .withColumn("inc", when(col(Tick.SEQ) === 0, 0.0)
        .otherwise(lit(mu * dt) + lit(sigma * math.sqrt(dt)) * gauss))
    TickStream(blockCumsum(withInc, col("inc"), col(Tick.SEQ), "__path")
      .withColumn(Tick.VALUE, col("__path"))
      .drop("inc", "__path"))
  }
}
