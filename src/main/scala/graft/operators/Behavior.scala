package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral event analytics: ordered funnels and cohort retention —
  * the two queries every product-events warehouse runs daily.
  *
  * Both are expressed as plain aggregate-and-join plans so Catalyst
  * keeps them shuffle-minimal: [[funnel]] is one filtered aggregate per
  * step, each joined back on the user key (steps are few and fixed, so
  * the plan is `k` user-keyed Exchanges over shrinking survivor sets —
  * never a per-user sort or a sequence scan); [[retention]] is the
  * first-seen aggregate joined to the events once, then one grouped
  * count. No window functions, no per-key state: at 100 TB the heavy
  * side streams through hash aggregates with map-side partials.
  */
object Behavior {
  /** Ordered funnel with a conversion deadline: step i counts users whose
    * EARLIEST step-i event at-or-after their step-(i−1) time still falls
    * within `windowSec` of their step-1 time. Output: one row per step —
    * (step_idx, step, n_users, sum_lag_us) with sum_lag_us the exact
    * total microseconds from step 1 (0 for step 1) — integer arithmetic,
    * no float rounding to drift from an external replay. */
  def funnel(events: DataFrame, userCol: String, tsCol: String, typeCol: String,
             steps: Seq[String], windowSec: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    val u = col(userCol)
    var reached = events.filter(col(typeCol) === steps.head)
      .groupBy(u.as("user")).agg(min(unix_micros(col(tsCol))).as("t1"))
      .withColumn("t_prev", col("t1"))
    var out = reached.agg(
      lit(0).as("step_idx"), lit(steps.head).as("step"),
      count(lit(1)).as("n_users"),
      lit(0L).as("sum_lag_us"))
    steps.zipWithIndex.drop(1).foreach { case (step, i) =>
      val nxt = events.filter(col(typeCol) === step)
        .select(u.as("user"), unix_micros(col(tsCol)).as("t"))
        .join(reached, Seq("user"))
        .filter(col("t") >= col("t_prev") && col("t") <= col("t1") + windowSec * 1000000L)
        .groupBy(col("user"))
        .agg(min(col("t")).as("t_step"), first(col("t1")).as("t1"))
        .select(col("user"), col("t1"), col("t_step").as("t_prev"))
      reached = nxt
      out = out.unionByName(reached.agg(
        lit(i).as("step_idx"), lit(step).as("step"),
        count(lit(1)).as("n_users"),
        coalesce(sum(col("t_prev") - col("t1")), lit(0L)).as("sum_lag_us")))
    }
    out
  }

  /** Order-1 Markov transition matrix over per-user event sequences:
    * one row per (from, to) event-type pair with its count and the
    * row-normalized probability. One user-keyed sort (lag window) + one
    * grouped count — the standard next-action model a product-events
    * pipeline feeds to recommendations; ties on the timestamp break by
    * `ord` so the chain is deterministic under duplicate-ts bursts. */
  def transitions(events: DataFrame, userCol: String, tsCol: String,
                  ordCol: String, typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(ordCol))
    val pairs = events
      .withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("from"), col(typeCol).as("to"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from")).agg(sum(col("n")).as("row_n"))
    pairs.join(totals, Seq("from"))
      .select(col("from"), col("to"), col("n"),
        (col("n").cast("double") / col("row_n").cast("double")).as("p"))
  }

  /** Two-variant conversion comparison (the A/B readout): per variant the
    * exposed-user and converted-user counts and conversion rate, plus the
    * pooled two-proportion z-score on every row — closed-form arithmetic
    * an external engine replays bit-for-bit (no p-value: erf provenance
    * differs across engines; the z threshold is the decision anyway). */
  def abTest(events: DataFrame, userCol: String, variantCol: String,
             convertedCol: String): DataFrame = {
    val per = events.groupBy(col(userCol).as("user"), col(variantCol).as("variant"))
      .agg(max(col(convertedCol).cast("int")).as("conv"))
    val stats = per.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).cast("long").as("n_conv"))
      .withColumn("rate", col("n_conv").cast("double") / col("n_users").cast("double"))
    val wide = stats.agg(
      sum(when(col("variant") === "A", col("n_users"))).as("na"),
      sum(when(col("variant") === "A", col("n_conv"))).as("ca"),
      sum(when(col("variant") === "B", col("n_users"))).as("nb"),
      sum(when(col("variant") === "B", col("n_conv"))).as("cb"))
      .select(
        ((col("ca") + col("cb")).cast("double") / (col("na") + col("nb")).cast("double")).as("pool"),
        (col("ca").cast("double") / col("na").cast("double") -
          col("cb").cast("double") / col("nb").cast("double")).as("diff"),
        (lit(1.0) / col("na").cast("double") + lit(1.0) / col("nb").cast("double")).as("inv"))
      .select((col("diff") / sqrt(col("pool") * (lit(1.0) - col("pool")) * col("inv"))).as("z"))
    stats.crossJoin(wide)
  }

  /** Mixture sequential probability ratio test (mSPRT; Johari, Koomen,
    * Pekelis & Walsh, KDD 2017 — the "always-valid p-value" behind
    * peeking-safe experiment dashboards): for the two-sample mean
    * difference θ̂ = x̄_a − x̄_b with estimated variance
    * σ²_θ = s²_pool·(1/n_a + 1/n_b), the normal-mixture likelihood
    * ratio is Λ = √(σ²_θ/(σ²_θ+τ²)) · exp(θ̂²τ²/(2σ²_θ(σ²_θ+τ²)));
    * p_always_valid = min(1, 1/Λ) may be read at ANY interim look
    * without inflating the false-positive rate. `tau` is the mixture
    * scale (≈ the effect size the test is powered for).
    *
    * Shape: ONE aggregate of conditional DECIMAL power sums (not the
    * per-arm join [[RankTests.welchT]] uses) — deliberately, because a
    * single grouped aggregate is STREAMING-COMPATIBLE: the always-
    * valid p exists precisely to be read continuously, and the same
    * plan runs complete-mode over a live stream (parity spec), each
    * micro-batch emitting the current interim verdict. Λ is a fixed
    * IEEE chain over exact operands, replayable. One row:
    * (n_a, n_b, mean_a, mean_b, theta, lambda, p_always_valid);
    * nulls when either arm has < 2 rows or the pooled variance is 0. */
  def msprt(df: DataFrame, groupCol: String, valueCol: String,
            a: String, b: String, tau: Double): DataFrame = {
    require(tau > 0, s"tau $tau must be > 0")
    val x = col(valueCol).cast("decimal(18,4)")
    val isA = col(groupCol) === a
    // null metric values are excluded from BOTH the counts and the
    // power sums (counting them only in n would silently bias every
    // mean/variance); |x| ≥ 1e14 overflows the DECIMAL(18,4) cast and
    // fails loudly under ANSI mode rather than nulling
    val j = df.filter((isA || col(groupCol) === b) && col(valueCol).isNotNull).agg(
      sum(isA.cast("long")).as("n_a"),
      sum(when(isA, x)).cast("double").as("s1_a"),
      sum(when(isA, (x * x).cast("decimal(38,8)"))).cast("double").as("s2_a"),
      sum((!isA).cast("long")).as("n_b"),
      sum(when(!isA, x)).cast("double").as("s1_b"),
      sum(when(!isA, (x * x).cast("decimal(38,8)"))).cast("double").as("s2_b"))
    def nD(s: String) = col(s"n_$s").cast("double")
    def mean(s: String) = col(s"s1_$s") / nD(s)
    // pooled variance: (SSa + SSb)/(n_a + n_b − 2), SS = S2 − S1²/n
    def ss(s: String) = col(s"s2_$s") - col(s"s1_$s") * col(s"s1_$s") / nD(s)
    val s2p = (ss("a") + ss("b")) / (nD("a") + nD("b") - 2)
    val varTheta = s2p * (lit(1.0) / nD("a") + lit(1.0) / nD("b"))
    val t2 = lit(tau * tau)
    val theta = mean("a") - mean("b")
    j.select(col("n_a"), col("n_b"),
        mean("a").as("mean_a"), mean("b").as("mean_b"),
        theta.as("theta"), varTheta.as("__v"))
      .withColumn("lambda", when(col("n_a") > 1 && col("n_b") > 1 && col("__v") > 0,
        sqrt(col("__v") / (col("__v") + t2)) *
          exp(col("theta") * col("theta") * t2 /
            (lit(2.0) * col("__v") * (col("__v") + t2)))))
      .withColumn("p_always_valid",
        when(col("lambda").isNotNull, least(lit(1.0), lit(1.0) / col("lambda"))))
      .drop("__v")
  }

  /** Cohort retention: users grouped by first-seen day; one row per
    * (cohort_day, day_offset) with the distinct users active that day.
    * Offsets are whole days from the cohort day (offset 0 = cohort day). */
  def retention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val day = date_trunc("day", col(tsCol))
    val first = events.groupBy(col(userCol).as("user"))
      .agg(min(day).as("cohort_day"))
    events.select(col(userCol).as("user"), day.as("d"))
      .join(first, Seq("user"))
      .groupBy(col("cohort_day"),
        ((unix_micros(col("d")) - unix_micros(col("cohort_day"))) / lit(86400000000L))
          .cast("long").as("day_offset"))
      .agg(count_distinct(col("user")).as("n_users"))
  }

  /** Cohort LTV curve: users grouped by first-seen WEEK; one row per
    * (cohort_week, age_weeks) with that week's conversion revenue
    * (DECIMAL-exact), its running total along the cohort's age axis,
    * and the active converter count. The running total is a window
    * over (cohorts × ages) rows — the tiny table, not the events.
    * Weeks are ⌊epoch-day/7⌋ integer arithmetic, engine-neutral. */
  def cohortLtv(events: DataFrame, userCol: String, tsCol: String,
                typeCol: String, convType: String, valueCol: String): DataFrame = {
    val week = floor(floor(unix_micros(col(tsCol)) / lit(86400000000.0)) / 7).cast("long")
    val first = events.groupBy(col(userCol).as("user"))
      .agg(min(week).as("cohort_week"))
    val perAge = events
      .filter(col(typeCol) === convType)
      .select(col(userCol).as("user"), week.as("w"),
        col(valueCol).cast("decimal(18,2)").as("v"))
      .join(first, Seq("user"))
      .groupBy(col("cohort_week"), (col("w") - col("cohort_week")).as("age_weeks"))
      .agg(sum(col("v")).as("__rev"), count_distinct(col("user")).as("n_users"))
    val wCum = Window.partitionBy("cohort_week").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, 0)
    perAge
      .withColumn("cum_revenue", sum(col("__rev")).over(wCum).cast("double"))
      .select(col("cohort_week"), col("age_weeks"),
        col("__rev").cast("double").as("revenue"), col("cum_revenue"), col("n_users"))
  }

  /** Time-to-convert distribution: per user, first `convType` micros
    * minus first-ever event micros (converters only — non-negative by
    * construction), read out as the DISCRETE ⌈p·n⌉ order statistics
    * for each requested percentile ([[Robust.winsorize]]'s rank rule —
    * actual data values, engine-replayable). One row per percentile:
    * (p_pct, n_converted, t2c_us).
    *
    * r15 refit: a handful of order statistics IS
    * [[Selection.orderStatistics]]'s whole job — the r14 distributed
    * rank (range Exchange + barrier + broadcast percentile join)
    * collapses to the per-user aggregate plus a few aggregate-only
    * selection scans; the result is a literal local table. Identical
    * values (same ⌈p·n/100⌉ double chain as the oracle). */
  def timeToConvert(events: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, convType: String,
                    percentiles: Seq[Int]): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 1 && p <= 100),
      "percentiles must be within [1, 100]")
    val spark = events.sparkSession
    import spark.implicits._
    val t = unix_micros(col(tsCol))
    val per = graft.util.Caching.barrier(events.groupBy(col(userCol).as("user"))
      .agg(min(t).as("t0"),
        min(when(col(typeCol) === convType, t)).as("tc"))
      .filter(col("tc").isNotNull)
      .select((col("tc") - col("t0")).as("t2c"), col("user")))
    val n = per.count()
    if (n == 0)
      return Seq.empty[(Int, Long, Long)].toDF("p_pct", "n_converted", "t2c_us")
    def rank(p: Int): Long = math.max(math.ceil(p * n / 100.0).toLong, 1L)
    val bounds = Selection.orderStatistics(per, "user",
      Seq(Selection.Dim("t2c", desc = false, percentiles.map(rank).distinct)), n)
    percentiles.map(p => (p, n, bounds.head(rank(p)).value.asInstanceOf[Long]))
      .toDF("p_pct", "n_converted", "t2c_us")
  }

  /** Marketing attribution: each conversion event credited to the
    * FIRST and LAST touch (any of `touchTypes`) within its trailing
    * `lookbackSec` window — the two standard single-touch models. One
    * per-user RANGE window (micros axis) shared by both lanes; null
    * touch = organic conversion. Ties in event time within a user make
    * first/last ambiguous — the fixtures have none, and at scale the
    * caller should pre-dedupe same-microsecond touches per user.
    * `convType` must not appear in `touchTypes` (a conversion is not
    * its own touch). */
  def attribution(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, touchTypes: Seq[String], convType: String,
                  lookbackSec: Long): DataFrame = {
    require(!touchTypes.contains(convType), "convType cannot be a touch type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-lookbackSec * 1000000L, 0L)
    val touch = when(col(typeCol).isin(touchTypes: _*), col(typeCol))
    events
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter(col(typeCol) === convType)
  }

  /** Multi-touch attribution: every touch in a conversion's trailing
    * lookback window gets fractional credit — `linear` weight 1/n and
    * time-decay weight 2^(−Δt/halflife) normalized to sum 1 per
    * conversion (Δt in seconds from touch to conversion). One row per
    * (conversion, touch): (conv_id, touch_id, touch_type, n_touches,
    * w_linear, w_decay). Organic conversions (no touches) emit
    * nothing — [[attribution]] is the arm that reports them.
    *
    * Shape: one per-user RANGE window collects the (ts, id, type)
    * touch list (bounded by the lookback — the same frame
    * [[attribution]] rides), conversions explode it, and both weights
    * are closed-form per pair; the normalizer is a higher-order
    * `aggregate` over the in-row list, so no second pass and no join.
    */
  def attributionMulti(events: DataFrame, userCol: String, tsCol: String,
                       idCol: String, typeCol: String, touchTypes: Seq[String],
                       convType: String, lookbackSec: Long,
                       halflifeSec: Double): DataFrame = {
    require(!touchTypes.contains(convType), "convType cannot be a touch type")
    require(halflifeSec > 0, s"halflifeSec $halflifeSec must be > 0")
    val t = unix_micros(col(tsCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(t)
      .rangeBetween(-lookbackSec * 1000000L, 0L)
    val touchStruct = when(col(typeCol).isin(touchTypes: _*),
      struct(t.as("tt"), col(idCol).as("tid"), col(typeCol).as("tty")))
    val conv = events
      .withColumn("__touches", collect_list(touchStruct).over(w))
      .filter(col(typeCol) === convType && size(col("__touches")) > 0)
      .select(col(idCol).as("conv_id"), t.as("__ct"), col("__touches"))
    val decayOf = (tt: Column) =>
      pow(lit(2.0), -((col("__ct") - tt).cast("double") / 1e6) / halflifeSec)
    conv
      .withColumn("__z", aggregate(col("__touches"), lit(0.0),
        (acc, s) => acc + decayOf(s.getField("tt"))))
      .withColumn("__n", size(col("__touches")))
      .select(col("conv_id"), explode(col("__touches")).as("s"),
        col("__n"), col("__z"), col("__ct"))
      .select(col("conv_id"), col("s.tid").as("touch_id"),
        col("s.tty").as("touch_type"), col("__n").cast("long").as("n_touches"),
        (lit(1.0) / col("__n").cast("double")).as("w_linear"),
        (decayOf(col("s.tt")) / col("__z")).as("w_decay"))
  }

  /** Association rules over per-unit item sets (Agrawal et al., SIGMOD
    * 1993 metrics): for every co-occurring item pair a<b —
    * support(ab), confidence(a→b) and lift. Distinct (unit, item)
    * first (multiplicity is not co-occurrence), then the pair explode
    * is a self-join ON THE UNIT KEY; counts are three hash aggregates.
    * Differs from PMI ([[graft.llm.Collocations]]) in co-occurrence
    * semantics: set-membership per unit, not adjacency in a sequence. */
  def associationRules(df: DataFrame, unitCol: String, itemCol: String,
                       minSupport: Long): DataFrame = {
    // ONE unit-keyed aggregate builds each basket's sorted item set;
    // pair expansion is then LOCAL per basket (bounded by set size) —
    // no pair self-join shuffle (A/B'd 12.6 → 8.9 s at sf1, 6M rows)
    val sets = df.select(col(unitCol).as("u"), col(itemCol).as("i"))
      .groupBy("u").agg(array_sort(collect_set(col("i"))).as("items"))
    val nUnits = sets.agg(count(lit(1)).as("n_units"))
    val per = sets.select(explode(col("items")).as("i"))
      .groupBy("i").agg(count(lit(1)).as("c"))
    val pairStructs = flatten(transform(col("items"), (x, ix) =>
      transform(slice(col("items"), ix + 2, size(col("items"))),
        y => struct(x.as("a"), y.as("b")))))
    val pairs = sets.select(explode(pairStructs).as("p"))
      .select(col("p.a").as("i"), col("p.b").as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSupport)
    pairs
      .join(per.select(col("i"), col("c").as("c_a")), "i")
      .join(per.select(col("i").as("j"), col("c").as("c_b")), "j")
      .join(broadcast(nUnits))
      .select(col("i").as("a"), col("j").as("b"), col("c_a"), col("c_b"), col("c_ab"),
        (col("c_ab").cast("double") / col("n_units").cast("double")).as("support"),
        (col("c_ab").cast("double") / col("c_a").cast("double")).as("confidence"),
        (col("c_ab").cast("double") * col("n_units").cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double"))).as("lift"))
  }

  /** RFM segmentation: per-unit Recency (days since last conversion at
    * `nowMicros`), Frequency (conversion count), Monetary (decimal
    * conversion spend), each scored into `q` quantile bands by the
    * DISCRETE rank formula ⌈rank·q/n⌉ (total order via the unit id
    * tie-break — reproducible anywhere, no interpolation). Higher score
    * = better (more recent / frequent / valuable).
    *
    * Scale shape (r15 refit): band k's cut is the ORDER STATISTIC at
    * rank ⌊k·n/q⌋ — per-row ranks are never needed, because
    * ⌈rank·q/n⌉ = 1 + #{k < q : rank > ⌊k·n/q⌋} and rank > j ⟺ the
    * row's (value, u) tuple comes after rank j's tuple. So the three
    * [[Ranking.withGlobalOrder]] passes of r13/r14 (three range
    * Exchanges + three persist barriers + three broadcast joins)
    * collapse to [[Selection.orderStatistics]] — a handful of
    * aggregate-only scans resolving all 3·(q−1) boundary tuples
    * exactly — and band assignment is a pure projection over literal
    * boundaries. ZERO entity-scale shuffles beyond the per-unit
    * aggregate itself; identical output bit-for-bit. */
  def rfm(events: DataFrame, userCol: String, tsCol: String, typeCol: String,
          valueCol: String, convType: String, nowMicros: Long, q: Int): DataFrame = {
    require(q >= 1, s"q $q must be >= 1")
    val per = graft.util.Caching.barrier(events.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("u"))
      .agg(
        floor((lit(nowMicros) - max(unix_micros(col(tsCol)))) / lit(86400000000.0))
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("double").as("monetary")))
    val n = per.count()
    rfmScores(per, n, q)
  }

  /** Band-scoring core of [[rfm]], shared with the live runner
    * ([[graft.streaming.BehaviorStream.RfmLive]] re-resolves the same
    * boundaries on each micro-batch's complete per-unit table, the
    * output of its streaming aggregation): `per` is the (u, recency_days,
    * frequency, monetary) per-unit table with `n` exact rows,
    * MATERIALIZED by the caller (persist barrier or local checkpoint —
    * [[Selection.orderStatistics]] scans it several times). Output is
    * a pure projection over the 3·(q−1) boundary literals, so batch
    * and stream agree bit-for-bit on identical `per` rows. */
  private[graft] def rfmScores(per: DataFrame, n: Long, q: Int): DataFrame = {
    val base = per.select(col("u"), col("recency_days"), col("frequency"),
      col("monetary"))
    if (n == 0)
      return base.select(col("u"), col("recency_days"), col("frequency"),
        col("monetary"), lit(1).as("r_score"), lit(1).as("f_score"),
        lit(1).as("m_score"))
    val cuts = (1 until q).map(k => k.toLong * n / q)
    val wanted = cuts.filter(_ >= 1)
    // recency: smaller is better → order DESC so the most recent gets q
    val dims = Seq(
      Selection.Dim("recency_days", desc = true, wanted),
      Selection.Dim("frequency", desc = false, wanted),
      Selection.Dim("monetary", desc = false, wanted))
    val bounds =
      if (wanted.isEmpty) Seq.fill(3)(Map.empty[Long, Selection.Boundary])
      else Selection.orderStatistics(per, "u", dims, n)
    def score(vCol: String, desc: Boolean, b: Map[Long, Selection.Boundary]) = {
      // a cut at rank 0 (n < q) is exceeded by every row
      val always = cuts.count(_ == 0)
      val terms = cuts.filter(_ >= 1).map(j =>
        Selection.after(col(vCol), col("u"), desc, b(j)).cast("int"))
      terms.foldLeft(lit(1 + always))(_ + _).cast("int")
    }
    base.select(col("u"), col("recency_days"), col("frequency"), col("monetary"),
      score("recency_days", desc = true, bounds(0)).as("r_score"),
      score("frequency", desc = false, bounds(1)).as("f_score"),
      score("monetary", desc = false, bounds(2)).as("m_score"))
  }

  /** Top event paths: the k most common ordered type sequences over
    * (unit, session) groups, truncated to `maxLen` steps — the classic
    * "what do users actually do" readout. One aggregate builds each
    * session's path array (per-group memory bounded by session length),
    * one counts paths; the cut is a total order on (count desc, path). */
  def topPaths(events: DataFrame, unitCol: String, sessionCol: String,
               tsCol: String, ordCol: String, typeCol: String,
               maxLen: Int, k: Int): DataFrame = {
    val path = events
      .select(col(unitCol).as("u"), col(sessionCol).as("sess"),
        struct(unix_micros(col(tsCol)).as("t"), col(ordCol).cast("long").as("o"),
          col(typeCol).as("e")).as("p"))
      .groupBy("u", "sess")
      .agg(concat_ws(">", slice(
        transform(array_sort(collect_list(col("p"))), x => x.getField("e")),
        1, maxLen)).as("path"))
    path.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Percentile bootstrap confidence interval (Efron 1979) for the mean
    * of a per-unit metric — the nonparametric error bar for skewed
    * experiment metrics where the normal approximation misleads.
    *
    * Determinism at scale: resampling uses the library's counter-mode
    * draw (`VectorExprs.unitDraw` — a hash of (draw-id, seed), no RNG
    * state), so every draw is reproducible under any partitioning AND
    * replayable in ANSI SQL — the oracle re-runs the entire bootstrap,
    * draws included. The B·n draw table joins the indexed units on the
    * drawn index (broadcast — the unit table was already reduced to one
    * row per unit); resample sums are DECIMAL-exact; the CI is read at
    * DISCRETE ranks ⌈αB⌉ (order statistics, no interpolation). Unit
    * indexing is [[Ranking.withGlobalOrder]]'s distributed rank (a
    * per-unit table can still be huge); only the B-row resample-means
    * rank keeps a bare ordered window (bounded by nBoot).
    *
    * Returns one row: (n_units, n_boot, est, ci_lo, ci_hi). */
  def bootstrapCi(perUnit: DataFrame, idCol: String, valueCol: String,
                  nBoot: Int, seed: Long, alpha: Double = 0.05): DataFrame = {
    val spark = perUnit.sparkSession
    val units = Ranking.withGlobalOrder(
        perUnit.select(col(idCol).as("uid"),
          col(valueCol).cast("decimal(18,2)").as("y")),
        Seq(col("uid")), rankCol = "__rk")
      .withColumn("idx", col("__rk") - 1).drop("__rk")
    val n = units.count()
    val nD = n.toDouble
    val draws = spark.range(nBoot.toLong * n).select(
      floor(col("id").cast("double") / lit(nD)).as("b"),
      floor(graft.functions.VectorExprs.unitDraw(col("id"), seed) * lit(nD)).as("pick"))
    val means = draws.join(broadcast(units), col("pick") === col("idx"))
      .groupBy("b").agg((sum(col("y")).cast("double") / lit(nD)).as("m"))
    val ranked = means.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("m"), col("b"))))
    val loRank = math.ceil(alpha / 2 * nBoot).toLong
    val hiRank = math.ceil((1 - alpha / 2) * nBoot).toLong
    val ci = ranked.agg(
      max(when(col("rk") === loRank, col("m"))).as("ci_lo"),
      max(when(col("rk") === hiRank, col("m"))).as("ci_hi"))
    val est = units.agg((sum(col("y")).cast("double") / lit(nD)).as("est"))
    est.crossJoin(ci).select(lit(n).as("n_units"), lit(nBoot).as("n_boot"),
      col("est"), col("ci_lo"), col("ci_hi"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013):
    * shrink the experiment metric's variance with a pre-experiment
    * covariate before reading out the A/B effect —
    *   theta  = cov(pre, post) / var(pre)          (pooled, population)
    *   adj_u  = post_u − theta · (pre_u − mean(pre))
    *
    * `perUser` has one row per experiment unit: `variantCol`, `preCol`
    * (pre-period covariate), `postCol` (experiment metric). Returns one
    * row per variant: n_users, theta, mean_post, mean_adj, var_post,
    * var_adj, and `reduction` = 1 − var_adj/var_post (≈ corr² — the
    * fraction of metric variance the covariate removed).
    *
    * Determinism + scale: every accumulation is a DECIMAL power sum
    * (Σx, Σy, Σx², Σy², Σxy) — order-independent under any
    * partitioning — and each output cell is ONE closed-form double
    * expression over those sums (adjusted moments expanded
    * algebraically: var_adj = var_post − 2θ·cov + θ²·var_pre), so no
    * per-row double is ever re-aggregated. Two hash aggregates with
    * map-side partials (global + per-variant) and a broadcast of the
    * 1-row global moments — no window, no sort, no driver loop. */
  def cuped(perUser: DataFrame, variantCol: String, preCol: String,
            postCol: String): DataFrame = {
    val x = col(preCol).cast("decimal(18,2)")
    val y = col(postCol).cast("decimal(18,2)")
    val base = perUser.select(col(variantCol).as("variant"), x.as("x"), y.as("y"))
    def sums(df: org.apache.spark.sql.RelationalGroupedDataset) = df.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("x")).cast("decimal(38,4)")).as("sxx"),
      sum((col("y") * col("y")).cast("decimal(38,4)")).as("syy"),
      sum((col("x") * col("y")).cast("decimal(38,4)")).as("sxy"))
    val thetaNum = (col("sxy") * col("n") - col("sx") * col("sy")).cast("double")
    val thetaDen = (col("sxx") * col("n") - col("sx") * col("sx")).cast("double")
    val g = sums(base.groupBy()).select(
      // constant covariate → var(pre)=0 → no adjustment (theta 0)
      when(thetaDen =!= 0.0, thetaNum / thetaDen).otherwise(0.0).as("theta"),
      (col("sx").cast("double") / col("n")).as("mean_pre"))
    val v = sums(base.groupBy("variant"))
    val n = col("n").cast("double")
    val varOf = (sq: Column, s: Column) =>
      (sq * col("n") - s * s).cast("double") / (n * n)
    val covV = (col("sxy") * col("n") - col("sx") * col("sy")).cast("double") / (n * n)
    v.join(broadcast(g))
      .select(col("variant"), col("n").as("n_users"), col("theta"),
        (col("sy").cast("double") / n).as("mean_post"),
        (col("sy").cast("double") / n -
          col("theta") * (col("sx").cast("double") / n - col("mean_pre"))).as("mean_adj"),
        varOf(col("syy"), col("sy")).as("var_post"),
        (varOf(col("syy"), col("sy")) - lit(2.0) * col("theta") * covV +
          col("theta") * col("theta") * varOf(col("sxx"), col("sx"))).as("var_adj"))
      .withColumn("reduction", // null for a degenerate (constant-metric) variant
        when(col("var_post") =!= 0.0, lit(1.0) - col("var_adj") / col("var_post")))
  }
}
