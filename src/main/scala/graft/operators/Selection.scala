package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exact distributed order statistics ("give me the tuple at rank j")
  * without a global sort — the Floyd–Rivest selection shape (Floyd &
  * Rivest, CACM 1975) expressed as a fixed number of map-combined
  * aggregate scans:
  *
  *  1. a deterministic hash-sample of the table brackets each target
  *     rank between two sampled tuples (concentration bounds make the
  *     bracket width ~ n/√s for sample size s);
  *  2. one aggregate scan per round computes, for EVERY in-flight
  *     target at once, the exact count of rows before its bracket, the
  *     exact count inside it, and a fresh in-bracket sub-sample — each
  *     round shrinks every bracket by ~√(round sample);
  *  3. once a bracket is small enough to collect outright, the exact
  *     boundary is read off the sorted bracket on the driver.
  *
  * Every rank request resolves to the EXACT tuple — sampling only
  * steers where the scans look, never the answer (a bracket that
  * misses its target resets to the full range and retries, so a
  * pathological hash interaction costs rounds, not correctness). All
  * sampling is counter-mode (`xxhash64(tie, salt)`), so the whole
  * procedure is deterministic under any partitioning — the
  * [[graft.functions.VectorExprs]] unitDraw discipline.
  *
  * Scale shape: no shuffle of the data AT ALL — each round is one
  * map-combined aggregate over the (caller-persisted) input, moving a
  * few thousand sampled tuples to the driver; convergence is
  * log_√s(n) rounds (3 scans bracket a rank in 10¹² rows at the
  * default sample sizes). This is what [[Ranking.withGlobalOrder]]'s
  * range-Exchange machinery reduces to when only a HANDFUL of ranks
  * are needed (quantile bands, percentile cuts) rather than every
  * row's rank.
  *
  * Total order: (value [desc], tie asc); the tie column must be
  * row-unique and both columns non-null — callers feed per-entity
  * aggregates keyed by the entity id, which satisfies both.
  * Null-freeness is enforced IN-SCAN across all arms (a null raises
  * with the offending column's name): the r16 arms checked only the
  * rows they happened to collect, so a null could silently shift every
  * rank under the local rank arm (ADVICE r16).
  *
  * Where each arm wins (measured, 20M rows,
  * local[32], identical checksums): under the `sampleTarget` fast path
  * (≤200k rows — every driver fixture and most per-entity tables) one
  * collect beats everything; in the multi-round regime ON ONE BOX the
  * range-shuffle rank is ~3× faster (13.9 vs 4.8 s at 20M — a local
  * "shuffle" is memcpy, while each selection round re-scans the
  * persisted input evaluating ~3·|targets| predicates per row); both
  * beat the single-task global window (19.8 s). On a real cluster the
  * trade reverses with size: withGlobalOrder moves the WHOLE table
  * through the network exchange, selection moves only map-side partial
  * aggregates and a few thousand sampled tuples — O(corpus) network vs
  * O(kB·rounds) — so for the 100 TB target the aggregate-only shape is
  * the one that survives. Since r16 that pick is mechanical
  * (`localRankArm`, see [[orderStatistics]]): single-box sessions past
  * the fast path auto-route to the rank arm, clusters keep the
  * refinement engine; both arms resolve identical tuples. Operators
  * that need only boundaries (rfm, gains, timeToConvert) use this;
  * per-row outputs (gini's Lorenz shares, bootstrap's resample index)
  * stay on [[Ranking.withGlobalOrder]].
  */
object Selection {

  /** One dimension of an order-statistics request: the value column,
    * its direction, and the 1-based ranks wanted in that order. */
  case class Dim(valueCol: String, desc: Boolean, ranks: Seq[Long])

  /** The exact tuple at a requested rank. */
  case class Boundary(value: Any, tie: Any)

  /** Column predicate: row tuple (v, tie) comes strictly AFTER `b` in
    * (value [desc], tie asc) order — i.e. its rank exceeds b's rank. */
  def after(v: Column, tie: Column, desc: Boolean, b: Boundary): Column = {
    val vAfter = if (desc) v < lit(b.value) else v > lit(b.value)
    vAfter || (v === lit(b.value) && tie > lit(b.tie))
  }

  private def before(v: Column, tie: Column, desc: Boolean, b: Boundary): Column = {
    val vBefore = if (desc) v > lit(b.value) else v < lit(b.value)
    vBefore || (v === lit(b.value) && tie < lit(b.tie))
  }

  private def cmpAny(a: Any, b: Any): Int = a match {
    // Spark's UTF-8 BINARY string order, not Java's UTF-16 compareTo:
    // the fast path's driver sort must pick the same rank-j tuple the
    // rank arm and the after()/before() Spark predicates would
    // (they disagree for U+E000..U+FFFF vs supplementary code points)
    case s: String =>
      org.apache.spark.unsafe.types.UTF8String.fromString(s)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(
          b.asInstanceOf[String]))
    case c: java.lang.Comparable[_] =>
      c.asInstanceOf[java.lang.Comparable[Any]].compareTo(b)
    case _ => throw new IllegalArgumentException(
      s"Selection: value/tie type ${a.getClass.getName} is not Comparable - " +
        "order statistics need an orderable column (numeric, string, date, timestamp)")
  }

  private def ord(desc: Boolean): Ordering[(Any, Any)] = new Ordering[(Any, Any)] {
    def compare(x: (Any, Any), y: (Any, Any)): Int = {
      val c = cmpAny(x._1, y._1)
      val cv = if (desc) -c else c
      if (cv != 0) cv else cmpAny(x._2, y._2)
    }
  }

  // per-target refinement state: the current bracket (None = ±∞), the
  // sub-sample modulus for the next scan, and the widen-retry count
  private final case class Target(dim: Int, rank: Long,
                                  var lo: Option[Boundary], var hi: Option[Boundary],
                                  var modulus: Long, var resets: Int,
                                  var result: Option[Boundary])

  /** Resolve every requested rank of every dimension to its exact
    * boundary tuple. `df` is scanned a handful of times — persist it
    * first ([[graft.util.Caching.barrier]]); `n` is its exact row
    * count (the caller has it from the same materialization). Returns
    * one rank→Boundary map per input dim.
    *
    * `localRankArm` (default on) is the r16 regime switch: when the
    * session runs on a single box (`sparkContext.isLocal`) and the
    * table outgrows the one-collect fast path, the boundaries come
    * from [[Ranking.withGlobalOrder]] instead of the multi-round
    * refinement — a local "shuffle" is memcpy, and the measured
    * crossover (20M rows, local[32]) has the range-shuffle rank
    * ~3× ahead there. On a cluster the trade reverses with size
    * (O(corpus) network vs O(kB·rounds)), so non-local sessions keep
    * the aggregate-only engine. Both arms resolve the same exact tuple
    * under (value [desc], tie asc) — the pick is unobservable in
    * output. Pass `localRankArm = false` to pin the refinement engine
    * (tests, and the q_order_stats oracle row, do). */
  def orderStatistics(df: DataFrame, tieCol: String, dims: Seq[Dim], n: Long,
                      sampleTarget: Int = 200000, roundSample: Int = 20000,
                      collectCap: Int = 65536,
                      localRankArm: Boolean = true): Seq[Map[Long, Boundary]] = {
    require(dims.nonEmpty, "need at least one dimension")
    // each round shrinks a bracket by ~√(roundSample)/6 — below 256 the
    // factor nears 1 and the refinement cannot converge in the round cap
    require(roundSample >= 256, s"roundSample $roundSample must be >= 256")
    dims.foreach(d => d.ranks.foreach(r =>
      require(r >= 1 && r <= n, s"rank $r out of [1, $n] for ${d.valueCol}")))
    val vCols = dims.indices.map(i => s"__v$i")
    // in-scan null guard, uniform across ALL arms (ADVICE r16): the
    // rank arm's range sort would place nulls FIRST under asc and
    // silently shift every rank, and the refinement arm only inspects
    // sampled rows — so reject nulls in the projection itself (zero
    // extra jobs; evaluated on every row every arm reads)
    def nonNull(c: Column, name: String): Column =
      when(c.isNull, raise_error(lit(
        s"orderStatistics: null in column '$name' - value and tie columns " +
          "must be null-free (filter or coalesce first)")).cast(df.schema(name).dataType))
        .otherwise(c)
    val proj = df.select(
      dims.zipWithIndex.map { case (d, i) => nonNull(col(d.valueCol), d.valueCol).as(s"__v$i") } :+
        nonNull(col(tieCol), tieCol).as("__u"): _*)
    def tuples(rows: Seq[Row], dim: Int): Seq[(Any, Any)] =
      rows.map(r => (r.get(dim), r.get(dims.length))).sorted(ord(dims(dim).desc))

    // fast path: the whole table fits the sample budget — one collect
    if (n <= sampleTarget) {
      val all = proj.collect().toSeq
      require(all.forall(r => !r.anyNull),
        "orderStatistics: null in a value or tie column")
      return dims.zipWithIndex.map { case (d, i) =>
        val sorted = tuples(all, i)
        d.ranks.distinct.map(r => r -> {
          val t = sorted((r - 1).toInt); Boundary(t._1, t._2)
        }).toMap
      }
    }

    // local-regime switch (see scaladoc): one range exchange per dim
    // beats the multi-round refinement when the exchange is intra-box
    if (localRankArm && df.sparkSession.sparkContext.isLocal) {
      return dims.zipWithIndex.map { case (d, i) =>
        val v = col(s"__v$i")
        val ranks = d.ranks.distinct
        val rows = Ranking.withGlobalOrder(proj,
            Seq(if (d.desc) v.desc else v.asc, col("__u").asc), rankCol = "__r")
          .filter(col("__r").isin(ranks: _*))
          .select(col("__r"), v, col("__u")).collect()
        require(rows.forall(r => !r.anyNull),
          "orderStatistics: null in a value or tie column")
        val m = rows.map(r => r.getLong(0) -> Boundary(r.get(1), r.get(2))).toMap
        require(m.size == ranks.size,
          s"orderStatistics: rank arm resolved ${m.size}/${ranks.size} ranks")
        m
      }
    }

    // round 0: global hash-sample, bracket every target
    val m0 = math.max(1L, n / sampleTarget)
    val sample0 = proj
      .filter(pmod(xxhash64(col("__u"), lit(0L)), lit(m0)) === 0)
      .collect().toSeq
    require(sample0.forall(r => !r.anyNull),
      "orderStatistics: null in a value or tie column")
    require(sample0.nonEmpty, s"orderStatistics: empty hash-sample at 1/$m0")
    val targets = dims.zipWithIndex.flatMap { case (d, i) =>
      val sorted = tuples(sample0, i)
      val s = sorted.length
      val margin = (3 * math.sqrt(s.toDouble)).toLong + 2
      d.ranks.distinct.map { r =>
        // expected sample position of rank r (1-based), clamped: a
        // light hash-sample can come back shorter than n/m0, and an
        // unclamped p would index past the sorted sample
        val p = math.min(r / m0, s.toLong)
        val lo = if (p - margin >= 1) Some(sorted((p - margin - 1).toInt)) else None
        val hi = if (p + margin <= s) Some(sorted((p + margin - 1).toInt)) else None
        // bracket size estimate ≈ 2·margin·m0 → sub-sample to
        // roundSample (same outright threshold as the refinement
        // rounds; no exact in-bracket count exists yet, so the 3σ-
        // margined estimate is the only gate here)
        val est = 2 * margin * m0
        Target(i, r, lo.map(t => Boundary(t._1, t._2)), hi.map(t => Boundary(t._1, t._2)),
          modulus = if (est <= math.max(collectCap.toLong, roundSample.toLong)) 1L
            else math.max(2L, est / roundSample),
          resets = 0, result = None)
      }
    }

    var round = 1
    while (targets.exists(_.result.isEmpty)) {
      require(round <= 12, s"orderStatistics: no convergence after $round rounds")
      val live = targets.filter(_.result.isEmpty)
      // ONE aggregate scan answers every live target: exact
      // before-bracket count, exact in-bracket count, in-bracket sample
      val aggs = live.zipWithIndex.flatMap { case (t, ti) =>
        val v = col(s"__v${t.dim}"); val u = col("__u"); val desc = dims(t.dim).desc
        val inB = t.lo.map(b => !before(v, u, desc, b)).getOrElse(lit(true)) &&
          t.hi.map(b => !after(v, u, desc, b)).getOrElse(lit(true))
        val bel = t.lo.map(b => sum(before(v, u, desc, b).cast("long")))
          .getOrElse(sum(lit(0L)))
        val keep = if (t.modulus == 1L) inB else inB &&
          pmod(xxhash64(u, lit(round * 4096L + ti)), lit(t.modulus)) === 0
        Seq(bel.as(s"__b$ti"), sum(inB.cast("long")).as(s"__c$ti"),
          collect_list(when(keep, struct(v.as("v"), u.as("u")))).as(s"__s$ti"))
      }
      val row = proj.agg(aggs.head, aggs.tail: _*).head()
      live.zipWithIndex.foreach { case (t, ti) =>
        val below = row.getLong(row.fieldIndex(s"__b$ti"))
        val cin = row.getLong(row.fieldIndex(s"__c$ti"))
        val got = row.getSeq[Row](row.fieldIndex(s"__s$ti"))
          .map(r => (r.get(0), r.get(1))).sorted(ord(dims(t.dim).desc))
        if (!(t.rank > below && t.rank <= below + cin)) {
          // sampling misled the bracket: reset to the full range — the
          // invariant then holds trivially and only rounds are lost
          t.resets += 1; t.lo = None; t.hi = None
          t.modulus = math.max(1L, n / roundSample)
        } else if (t.modulus == 1L && got.length == cin) {
          val b = got((t.rank - below - 1).toInt)
          t.result = Some(Boundary(b._1, b._2))
        } else if (got.nonEmpty) {
          // refine: estimate the target's position within the sorted
          // sub-sample, keep a ±3√s safety margin inside the bracket
          val ss = got.length
          val pos = ((t.rank - below).toDouble * ss / cin).toLong
          val margin = (3 * math.sqrt(ss.toDouble)).toLong + 2
          if (pos - margin >= 1) t.lo = Some {
            val x = got((pos - margin - 1).toInt); Boundary(x._1, x._2)
          }
          if (pos + margin <= ss) t.hi = Some {
            val x = got((pos + margin - 1).toInt); Boundary(x._1, x._2)
          }
          val est = math.max(1L, 2 * margin * cin / ss)
          // Collect-outright (modulus 1) gate. A round's driver
          // transfer is ~roundSample tuples per target ANYWAY, so the
          // effective outright threshold is max(collectCap,
          // roundSample) — a collectCap below roundSample cannot bound
          // anything the sampling rounds don't already move (and the
          // sub-sample shrink floor, ~6·cin/√roundSample per round,
          // makes brackets below that threshold unreachable by more
          // sampling). Two protections beyond the estimate itself:
          //  - est is a sample estimate and can undershoot; the EXACT
          //    enclosing-bracket count (cin) hard-bounds the new
          //    bracket, so a suspiciously large enclosure (> 64× the
          //    threshold) keeps sub-sampling at the cin-exact rate
          //    instead of trusting est;
          //  - the sub-sample modulus never bottoms out at 1, which
          //    would collect the ENTIRE bracket regardless of size.
          val outright = math.max(collectCap.toLong, roundSample.toLong)
          t.modulus =
            if (est <= outright && cin <= 64L * outright) 1L
            else if (est > outright) math.max(2L, est / roundSample)
            else math.max(2L, cin / roundSample)
        } else {
          // degenerate sub-sample (hash drew nothing): re-draw at the
          // rate the EXACT in-bracket count prescribes (expected draw
          // ≈ roundSample; the salt changes every round so a repeat
          // modulus still draws fresh). Never bottom out at modulus 1
          // while the bracket exceeds the outright threshold — the
          // previous /16 spiral could reach 1 and collect the ENTIRE
          // bracket (after a reset, the entire table) to the driver.
          t.modulus = if (cin <= math.max(collectCap.toLong, roundSample.toLong)) 1L
            else math.max(2L, cin / roundSample)
        }
      }
      round += 1
    }
    dims.indices.map { i =>
      targets.filter(_.dim == i).map(t => t.rank -> t.result.get).toMap
    }
  }
}
