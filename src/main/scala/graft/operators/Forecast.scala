package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Forecast baselines and their backtest — the capacity-planning
  * readout a metrics warehouse runs nightly: naive (last value) and
  * seasonal-naive (value one season ago) forecasts, scored in-sample
  * per key with MAE / RMSE / bias.
  *
  * The [[Anomaly]] numerical discipline applies: per-row errors of
  * 2-decimal fixture values are exact decimals (e, and e² at 4
  * decimals), error SUMS accumulate in decimal, and only the final
  * mean/sqrt drops to correctly-rounded double — bit-identical across
  * engines. One user-keyed Exchange; both lag lanes share the sort.
  */
object Forecast {

  /** Backtest both baselines in one pass: (key, method, n, mae, rmse,
    * bias) with method ∈ {naive, seasonal}. Rows without enough
    * history for a lag are excluded from that method's score. */
  def naiveBacktest(df: DataFrame, keyCol: String, tsCol: String, ordCol: String,
                    valCol: String, season: Int): DataFrame = {
    require(season >= 2, "season must be >= 2 (1 is the naive method)")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(ordCol))
    val x = col(valCol)
    val withLags = df.select(col(keyCol), col(tsCol), col(ordCol), x.as("__x"))
      .withColumn("__naive", lag(col("__x"), 1).over(w))
      .withColumn("__seasonal", lag(col("__x"), season).over(w))
    val arms = Seq("naive" -> "__naive", "seasonal" -> "__seasonal").map { case (name, c) =>
      withLags.filter(col(c).isNotNull)
        .withColumn("__e", col("__x") - col(c))
        .groupBy(col(keyCol))
        .agg(count(lit(1)).as("n"),
          sum(abs(col("__e")).cast("decimal(18,2)")).as("__sae"),
          sum((col("__e") * col("__e")).cast("decimal(28,4)")).as("__sse"),
          sum(col("__e").cast("decimal(18,2)")).as("__se"))
        .select(col(keyCol), lit(name).as("method"), col("n"),
          (col("__sae").cast("double") / col("n")).as("mae"),
          sqrt(col("__sse").cast("double") / col("n")).as("rmse"),
          (col("__se").cast("double") / col("n")).as("bias"))
    }
    arms.reduce(_ unionByName _)
  }

  /** Classical seasonal profile (additive decomposition, odd period):
    * trend = centered `period`-point moving average (full windows
    * only); the seasonal index at position p = mean of (x − trend)
    * over rows at that season position. Emitted per (key, pos):
    * (key, pos, n, seasonal). Exactness: the per-position mean is
    * algebraically rearranged to (period·Σx − Σ sw) / (period·n)
    * where sw is the DECIMAL window sum — one double division at the
    * end, no order-dependent double accumulation anywhere. */
  def seasonalProfile(df: DataFrame, keyCol: String, tsCol: String, ordCol: String,
                      valCol: String, period: Int): DataFrame = {
    require(period >= 3 && period % 2 == 1, "period must be odd and >= 3 (classical centered MA)")
    val half = period / 2
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(ordCol))
    val frame = w.rowsBetween(-half, half)
    val sw = sum(col(valCol).cast("decimal(18,2)")).over(frame)
    val cnt = count(lit(1)).over(frame)
    val rn = row_number().over(w)
    df.select(col(keyCol), col(tsCol), col(ordCol),
        col(valCol).cast("decimal(18,2)").as("__x"),
        sw.as("__sw"), cnt.as("__cnt"), ((rn - 1) % period).as("pos"))
      .filter(col("__cnt") === period) // full centered windows only
      .groupBy(col(keyCol), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("__sx"), sum(col("__sw")).as("__ssw"))
      .select(col(keyCol), col("pos"), col("n"),
        ((col("__sx") * period - col("__ssw")).cast("double") / (col("n") * period)).as("seasonal"))
  }

  /** Additive Holt-Winters triple exponential smoothing (Holt 1957,
    * Winters 1960) — level + trend + seasonal state advanced per step:
    *   ŷ_t = l + b + s[t mod m]                       (one-step fit)
    *   l' = α(y_t − s[t%m]) + (1−α)(l + b)
    *   b' = β(l' − l) + (1−β)b
    *   s[t%m]' = γ(y_t − l') + (1−γ)s[t%m]
    * Flat deterministic init (l=y₀, b=0, s=0⃗ — stated, so an external
    * replay needs no fitting heuristics). The recurrence is inherently
    * sequential per key (same distribution story as PAVA: parallel
    * across keys, one ordered O(n) pass within); every step is the
    * IDENTICAL fixed-association double expression on both engines, so
    * the whole state trajectory is bit-reproducible — the oracle
    * replays it as a recursive CTE carrying (l, b, s-list). */
  def holtWinters(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
                  period: Int, alpha: Double, beta: Double, gamma: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("long").as("k"), col(ordCol).cast("long").as("o"),
        col(valCol).cast("double").as("y"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1).flatMapGroups { (key, it) =>
        val rows = it.toArray.sortBy(_._2)
        // in-scan order contract (the peltBy discipline): a duplicate
        // ord would make the sorted fold's tie order partition-dependent
        var d = 1
        while (d < rows.length) {
          require(rows(d)._2 != rows(d - 1)._2,
            s"holtWinters: duplicate order key ${rows(d)._2} within key " +
              s"$key - ordCol must be unique per key")
          d += 1
        }
        val ys = rows.map(_._3)
        if (ys.isEmpty) Iterator.empty
        else {
          val s = new Array[Double](period)
          var l = ys(0); var b = 0.0
          val out = new Array[(Long, Int, Double, Option[Double], Double, Double)](ys.length)
          out(0) = (key, 0, ys(0), None, l, b)
          var t = 1
          while (t < ys.length) {
            val (fitted, lNew, bNew) =
              hwStep(l, b, s, t % period, ys(t), alpha, beta, gamma)
            l = lNew; b = bNew
            out(t) = (key, t, ys(t), Some(fitted), l, b)
            t += 1
          }
          out.iterator
        }
      }.toDF(keyCol, "t", "y", "fitted", "level", "trend")
  }

  /** One Holt-Winters update — the numeric core SHARED by
    * [[holtWinters]] and the live twin
    * [[graft.streaming.ForecastStream.holtWintersStream]] (the
    * bocpdStep pattern: sharing the fixed-association double
    * expressions makes batch≡stream bit-parity a construction
    * property). Mutates `s(slot)`; returns (fitted, l', b'). */
  private[graft] def hwStep(l: Double, b: Double, s: Array[Double], slot: Int,
                            y: Double, alpha: Double, beta: Double,
                            gamma: Double): (Double, Double, Double) = {
    val fitted = l + b + s(slot)
    val lNew = alpha * (y - s(slot)) + (1 - alpha) * (l + b)
    val bNew = beta * (lNew - l) + (1 - beta) * b
    s(slot) = gamma * (y - lNew) + (1 - gamma) * s(slot)
    (fitted, lNew, bNew)
  }

  /** Per-key OLS trend — slope/intercept/R² of value against elapsed
    * seconds since `epochBaseMicros`. ONE hash aggregate of decimal
    * power sums (Σx, Σy, Σxx, Σyy, Σxy — order-independent, map-side
    * combinable), then each statistic is a single closed-form double
    * expression over them; an external engine replays the identical
    * algebra. The x axis is re-based so x² stays inside DECIMAL(38,4)
    * at any corpus span (raw epoch micros squared would not). Degenerate
    * keys (constant x or y) yield nulls, not division errors. */
  def olsTrend(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
               epochBaseMicros: Long): DataFrame = {
    // whole seconds: x², x·y, y² then carry ≤ 4 decimals — every DECIMAL
    // cast below is EXACT (no rounding-mode divergence between engines)
    val x = floor((unix_micros(col(tsCol)) - epochBaseMicros).cast("double") / lit(1000000.0))
      .cast("decimal(18,0)")
    val y = col(valCol).cast("decimal(18,2)")
    val n = col("n").cast("double")
    val sxy = (col("sxy") * col("n") - col("sx") * col("sy")).cast("double")
    val sxx = (col("sxx") * col("n") - col("sx") * col("sx")).cast("double")
    val syy = (col("syy") * col("n") - col("sy") * col("sy")).cast("double")
    df.select(col(keyCol).as("key"), x.as("x"), y.as("y"))
      .groupBy("key")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,4)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,4)")).as("syy"),
        sum((col("x") * col("y")).cast("decimal(38,4)")).as("sxy"))
      .select(col("key"), col("n"),
        when(sxx =!= 0.0, sxy / sxx).as("slope"),
        when(sxx =!= 0.0,
          (col("sy").cast("double") - sxy / sxx * col("sx").cast("double")) / n).as("intercept"),
        when(sxx =!= 0.0 && syy =!= 0.0, sxy * sxy / (sxx * syy)).as("r2"))
  }

  /** Theil–Sen robust trend (Theil 1950; Sen 1968): per-key slope =
    * MEDIAN of all pairwise slopes, intercept = median of (y − slope·x)
    * — a 29%-breakdown estimator where [[olsTrend]]'s least squares
    * follows any single wild point. Same re-based whole-second axis.
    * Median = mean of the ⌈n/2⌉ and ⌊n/2⌋+1 order statistics (exact
    * ranks, no interpolation-mode ambiguity).
    *
    * Scale shape: the pair set is a per-key equi self-join — O(n_k²)
    * pairs bounded by the PER-KEY row count (the operator's documented
    * contract; series with millions of points per key want the
    * repeated-median or sampled variant, not this exact form). The
    * slope medians are |keys| rows broadcast back for the intercept
    * pass. */
  def theilSen(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
               ordCol: String, epochBaseMicros: Long): DataFrame = {
    val pts = tsPoints(df, keyCol, tsCol, valCol, ordCol, epochBaseMicros)
    val pairs = pts.alias("a")
      .join(pts.alias("b"), col("a.key") === col("b.key") && col("a.o") < col("b.o"))
      .filter(col("b.x") =!= col("a.x"))
      .select(col("a.key").as("key"),
        ((col("b.y") - col("a.y")) / (col("b.x") - col("a.x"))).as("s"))
    tsReadout(pts, pairs)
  }

  /** The 100 TB arm of [[theilSen]]: slope = per-key median over a
    * BOUNDED sampled pair set — each point draws `m` partners by
    * counter-mode draw (j = (i + 1 + ⌊u·(n−1)⌋) mod n over the key's
    * time-ranked indices: uniform over the other points, never self,
    * long baselines included), so the pair table is O(n·m) instead of
    * the exact arm's O(n²) per key and a fat key cannot melt a reducer.
    * Deterministic under any partitioning AND replayable in ANSI SQL
    * (the [[graft.operators.Behavior.bootstrapCi]] mixer discipline:
    * draw counter = i·64 + d, shared across keys — a fixed
    * pseudo-random pairing design, not per-key state). Duplicate
    * sampled pairs keep their multiplicity (standard sampled
    * Theil–Sen); the intercept pass is the exact arm's (O(n) rows per
    * key). The exact [[theilSen]] stays the small-key verifier —
    * the q_mutual_nn / q_mutual_nn_lsh pairing.
    *
    * Crossover (measured, local[32], warm): below n_k ≈ 2m
    * the sampled machinery (two ranking windows + the partner join)
    * costs more than the n_k²/2 pairs it avoids — the driver fixture's
    * constant n_k = 67 reads exact 4.10 s vs sampled 4.95 s at sf1 —
    * while ONE fat key of 20k points reads sampled 9.9 s vs exact
    * 688 s (69×). Exact for bounded per-key ticks; this arm when any
    * key can run hot. */
  def theilSenSampled(df: DataFrame, keyCol: String, tsCol: String, valCol: String,
                      ordCol: String, epochBaseMicros: Long,
                      m: Int = 8, seed: Long = 42L): DataFrame = {
    require(m >= 1 && m <= 64, s"pairs-per-point m $m out of [1, 64] (counter stride)")
    val pts = tsPoints(df, keyCol, tsCol, valCol, ordCol, epochBaseMicros)
    val wk = Window.partitionBy("key").orderBy(col("x"), col("o"))
    val idx = pts
      .withColumn("i", (row_number().over(wk) - 1).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("key")))
    val drawn = idx.filter(col("n") >= 2)
      .withColumn("d", explode(sequence(lit(0L), lit(m - 1L))))
      .withColumn("u", graft.functions.VectorExprs.unitDraw(
        col("i") * 64L + col("d"), seed))
      .withColumn("j", (col("i") + 1L +
        floor(col("u") * (col("n") - 1L).cast("double")).cast("long")) % col("n"))
    val partners = idx.select(col("key"), col("i").as("j"),
      col("x").as("x2"), col("y").as("y2"))
    val pairs = drawn.join(partners, Seq("key", "j"))
      .filter(col("x2") =!= col("x"))
      .select(col("key"), ((col("y2") - col("y")) / (col("x2") - col("x"))).as("s"))
    tsReadout(pts, pairs)
  }

  /** Shared (key, x, y, o) projection: whole-second re-based axis. */
  private def tsPoints(df: DataFrame, keyCol: String, tsCol: String,
                       valCol: String, ordCol: String,
                       epochBaseMicros: Long): DataFrame = {
    val x = floor((unix_micros(col(tsCol)) - epochBaseMicros).cast("double") / lit(1000000.0))
    df.select(col(keyCol).as("key"), x.as("x"),
      col(valCol).cast("double").as("y"), col(ordCol).as("o"))
  }

  /** Shared slope-median → residual-median → (key, n, slope, intercept)
    * readout over any per-key slope-sample table. */
  private def tsReadout(pts: DataFrame, pairs: DataFrame): DataFrame = {
    def medianOf(d: DataFrame, vCol: String, out: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col(vCol))
      val n = org.apache.spark.sql.expressions.Window.partitionBy("key")
      d.withColumn("__rk", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(n))
        .filter(col("__rk") === ceil(col("__n") / 2.0).cast("long") ||
          col("__rk") === (col("__n") / 2 + 1))
        .groupBy("key").agg(avg(col(vCol)).as(out), first(col("__n")).as(s"__cnt_$out"))
    }
    val slope = medianOf(pairs, "s", "slope").select(col("key"), col("slope"))
    val resid = pts.join(broadcast(slope), "key")
      .select(col("key"), col("slope"), (col("y") - col("slope") * col("x")).as("b"))
    val intercept = medianOf(resid.select(col("key"), col("b")), "b", "intercept")
      .select(col("key"), col("intercept"))
    pts.groupBy("key").agg(count(lit(1)).as("n"))
      .join(slope, Seq("key"), "left").join(intercept, Seq("key"), "left")
      .select(col("key"), col("n"),
        round(col("slope"), 6).as("slope"), round(col("intercept"), 6).as("intercept"))
  }
}
