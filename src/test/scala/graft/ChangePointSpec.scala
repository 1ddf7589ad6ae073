package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ChangePoint
import graft.streaming.{ChangePointStream, TrendStream}
import graft.streaming.ChangePointStream.CpEvent
import graft.streaming.TrendStream.MkEvent

/** Change-point family: the window-collapsed batch arms must equal the
  * textbook recursions (driver reference folds), the exact AMOC split
  * must equal brute-force SSE, and every streaming twin must replay
  * its batch arm bit-for-bit across micro-batch boundaries. */
class ChangePointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def quant(v: Double): Long = ChangePointStream.quant4(v)

  // deterministic series with a level shift at i = 600 and a couple of keys
  private def series(key: String, n: Int, shiftAt: Int, shift: Double,
                     seed: Int): Seq[(String, Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (key, i.toLong,
      50.0 + rnd.nextGaussian() * 4 + (if (i >= shiftAt) shift else 0.0)))
  }

  private lazy val rows =
    series("a", 900, 600, 12.0, 11) ++ series("b", 700, 350, -9.0, 23) ++
      Seq(("c", 0L, 42.0)) // single-row key: no valid split, no variance

  test("cusumBy == the classic max(0, S + x - mu - k) recursion, exactly") {
    import spark.implicits._
    val df = rows.toDF("k", "t", "v")
    val mu0 = BigDecimal(50); val k = BigDecimal(1); val h = BigDecimal(60)
    val got = ChangePoint.cusumBy(df, "k", "t", "v", mu0, k, h)
      .collect().map(r => r.getString(0) -> r).toMap
    val upQ = 510000L; val dnQ = 490000L; val hQ = 600000L
    rows.groupBy(_._1).foreach { case (key, rs) =>
      var sp = 0L; var sn = 0L; var spMax = 0L; var snMax = 0L
      var ap: Option[Long] = None; var an: Option[Long] = None
      rs.sortBy(_._2).foreach { case (_, t, v) =>
        val xq = quant(v)
        sp = math.max(0L, sp + xq - upQ)
        sn = math.max(0L, sn + dnQ - xq)
        spMax = math.max(spMax, sp); snMax = math.max(snMax, sn)
        if (ap.isEmpty && sp > hQ) ap = Some(t)
        if (an.isEmpty && sn > hQ) an = Some(t)
      }
      val r = got(key)
      assert(r.getLong(1) == rs.length.toLong, key)
      assert(r.getDouble(2) == spMax.toDouble / 10000.0, s"$key s_pos_max")
      assert(r.getDouble(3) == snMax.toDouble / 10000.0, s"$key s_neg_max")
      assert(Option(r.get(4)).map(_.asInstanceOf[Long]) == ap, s"$key alarm_pos")
      assert(Option(r.get(5)).map(_.asInstanceOf[Long]) == an, s"$key alarm_neg")
    }
  }

  test("pageHinkleyBy == the running-mean PH recursion, bit-for-bit") {
    import spark.implicits._
    val df = rows.toDF("k", "t", "v")
    val delta = 0.4; val lambda = 40.0
    val got = ChangePoint.pageHinkleyBy(df, "k", "t", "v", delta, lambda)
      .collect().map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (key, rs) =>
      var n = 0L; var sum = 0.0; var m = 0.0
      var mMin = Double.MaxValue; var mMax = Double.MinValue
      var incMax = Double.MinValue; var decMax = Double.MinValue
      var ai: Option[Long] = None; var ad: Option[Long] = None
      rs.sortBy(_._2).foreach { case (_, t, v) =>
        n += 1; sum += v
        val xbar = sum / n.toDouble
        m += ((v - xbar) - delta)
        mMin = math.min(mMin, m); mMax = math.max(mMax, m)
        val inc = m - mMin; val dec = mMax - m
        incMax = math.max(incMax, inc); decMax = math.max(decMax, dec)
        if (ai.isEmpty && inc > lambda) ai = Some(t)
        if (ad.isEmpty && dec > lambda) ad = Some(t)
      }
      val r = got(key)
      assert(r.getLong(1) == n, key)
      assert(r.getDouble(2) == incMax, s"$key ph_inc_max")
      assert(r.getDouble(3) == decMax, s"$key ph_dec_max")
      assert(Option(r.get(4)).map(_.asInstanceOf[Long]) == ai, s"$key alarm_inc")
      assert(Option(r.get(5)).map(_.asInstanceOf[Long]) == ad, s"$key alarm_dec")
    }
  }

  test("amocSplitBy == brute-force SSE argmax; finds the injected shifts") {
    import spark.implicits._
    val df = rows.toDF("k", "t", "v")
    val got = ChangePoint.amocSplitBy(df, "k", "t", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!got.contains("c"), "single-row key has no valid split")
    rows.groupBy(_._1).filter(_._2.length >= 2).foreach { case (key, rs) =>
      val xs = rs.sortBy(_._2).map { case (_, t, v) => (t, quant(v)) }
      val n = xs.length.toLong
      val s = xs.map(x => BigInt(x._2)).sum
      var best = (-1.0, Long.MaxValue, 0L) // (gain, ts, i)
      var si = BigInt(0)
      xs.zipWithIndex.dropRight(1).foreach { case ((t, xq), idx) =>
        val i = idx + 1L
        si += xq
        val a = (si * n - s * i).toDouble
        val dn = (i * (n - i) * n).toDouble
        val gain = a * a / dn / 1e8
        if (gain > best._1 || (gain == best._1 && t < best._2)) best = (gain, t, i)
      }
      val r = got(key)
      assert(r.getLong(2) == best._2, s"$key split_ts")
      assert(r.getLong(3) == best._3, s"$key n_left")
      assert(r.getDouble(4) == best._1, s"$key gain")
      // the injected shift is found within a small neighbourhood
      val expect = if (key == "a") 600L else 350L
      assert(math.abs(r.getLong(2) - (expect - 1)) <= 3, s"$key found ${r.getLong(2)}")
    }
  }

  test("binarySegmentationBy: accepted splits == recursive amocSplitBy; means exact") {
    import spark.implicits._
    // two shifts per key so depth 2 has real work at both levels
    val two = series("a", 600, 200, 10.0, 31).map { case (k, t, v) =>
      (k, t, v + (if (t >= 450) 8.0 else 0.0)) }
    val df = two.toDF("k", "t", "v")
    val (depth, minSize, minGain) = (2, 20L, 1.0)
    val segs = ChangePoint.binarySegmentationBy(df, "k", "t", "v",
      depth, minSize, minGain).collect()
      .sortBy(_.getInt(1)).toSeq
    graft.util.Caching.release()
    // reference: recursive amocSplitBy over the accepted slices, with
    // the SAME accept criteria (gain >= minGain, both sides >= minSize)
    var bounds = Seq((0L, 599L))
    for (_ <- 1 to depth) {
      bounds = bounds.flatMap { case (lo, hi) =>
        val slice = two.filter(x => x._2 >= lo && x._2 <= hi)
        if (slice.length < 2) Seq((lo, hi))
        else {
          val r = ChangePoint.amocSplitBy(slice.toDF("k", "t", "v"), "k", "t", "v").head
          val cut = r.getLong(2); val nl = r.getLong(3); val n = r.getLong(1)
          if (r.getDouble(4) >= minGain && nl >= minSize && (n - nl) >= minSize)
            Seq((lo, cut), (cut + 1, hi))
          else Seq((lo, hi))
        }
      }
    }
    assert(bounds.length >= 3, s"fixture should split at least twice: $bounds")
    assert(segs.length == bounds.length,
      s"expected ${bounds.length} segments, got ${segs.length}")
    segs.zip(bounds).foreach { case (r, (lo, hi)) =>
      assert(r.getLong(3) == lo && r.getLong(4) == hi,
        s"segment ${r.getInt(1)}: [${r.getLong(3)}, ${r.getLong(4)}] vs [$lo, $hi]")
      val slice = two.filter(x => x._2 >= lo && x._2 <= hi)
      val mean = slice.map(x => BigInt(quant(x._3))).sum.toDouble / 10000.0 /
        slice.length.toDouble
      assert(r.getDouble(5) == mean, s"segment mean at [$lo, $hi]")
    }
  }

  test("pettittBy == the brute-force double-loop U statistic; ranks absorb ties") {
    import spark.implicits._
    // shifted series with deliberate ties (quantized to integers)
    val data = rows.map { case (k, t, v) => (k, t, math.floor(v / 3.0) * 3.0) }
    val df = data.toDF("k", "t", "v")
    val got = ChangePoint.pettittBy(df, "k", "t", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    graft.util.Caching.release()
    assert(!got.contains("c"), "single-row key has no valid split")
    data.groupBy(_._1).filter(_._2.length >= 2).foreach { case (key, rs) =>
      val xs = rs.sortBy(_._2).map(x => (x._2, x._3))
      val n = xs.length
      var best = (Long.MinValue, Long.MaxValue, 0L) // (|U|, ts, U)
      (1 until n).foreach { t =>
        var u = 0L
        for (i <- 0 until t; j <- t until n)
          u += java.lang.Double.compare(xs(i)._2, xs(j)._2).sign
        val k = math.abs(u)
        if (k > best._1 || (k == best._1 && xs(t - 1)._1 < best._2))
          best = (k, xs(t - 1)._1, u)
      }
      val r = got(key)
      assert(r.getLong(2) == best._1, s"$key k_stat")
      assert(r.getLong(3) == best._2, s"$key split_ts")
      assert(r.getLong(4) == best._3, s"$key u_at_split")
      val nD = n.toDouble
      val p = math.min(1.0, 2.0 * math.exp(
        -6.0 * best._1.toDouble * best._1.toDouble / (nD * nD * nD + nD * nD)))
      assert(r.getDouble(5) == p, s"$key p_value")
      // the injected shift is found near the truth (rank test, noisy)
      val expect = if (key == "a") 600L else 350L
      assert(math.abs(r.getLong(3) - (expect - 1)) <= 10, s"$key found ${r.getLong(3)}")
    }
  }

  test("peltBy == exhaustive optimal-partitioning DP; finds the injected shifts") {
    import spark.implicits._
    // two shifts per key + a constant key + a single-point key
    val two = series("a", 500, 170, 14.0, 41).map { case (k, t, v) =>
      (k, t, v + (if (t >= 360) -11.0 else 0.0)) } ++
      series("b", 400, 220, 10.0, 53) ++
      (0 until 50).map(i => ("flat", i.toLong, 5.0)) ++
      Seq(("one", 0L, 42.0))
    val beta = BigDecimal(800)
    val got = ChangePoint.peltBy(two.toDF("k", "t", "v"), "k", "t", "v", beta)
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.sortBy(_.getInt(1)).toSeq }
    // reference: the SAME quantized cost chain, exhaustive DP (no
    // pruning) — PELT must agree exactly, including tie-breaks
    val betaQ = 8000000L
    def dbl(b: BigInt): Double = new java.math.BigDecimal(b.bigInteger).doubleValue
    two.groupBy(_._1).foreach { case (key, rs) =>
      val xs = rs.sortBy(_._2).map(x => BigInt(quant(x._3))).toArray
      val tss = rs.sortBy(_._2).map(_._2).toArray
      val n = xs.length
      val ps = xs.scanLeft(BigInt(0))(_ + _)
      val pq = xs.scanLeft(BigInt(0))((a, x) => a + x * x)
      def costQ(s: Int, t: Int): Long = {
        val aD = dbl(ps(t) - ps(s)); val qD = dbl(pq(t) - pq(s))
        ChangePointStream.quant4((qD - aD * aD / (t - s).toDouble) / 1e8)
      }
      val f = Array.fill(n + 1)(Long.MaxValue); val tau = new Array[Int](n + 1)
      f(0) = -betaQ
      for (t <- 1 to n; s <- 0 until t) {
        val v = f(s) + costQ(s, t) + betaQ
        if (v < f(t)) { f(t) = v; tau(t) = s }
      }
      var bounds = List(n); var b = n
      while (b > 0) { b = tau(b); bounds = b :: bounds }
      val expect = bounds.sliding(2).toSeq.zipWithIndex.map {
        case (Seq(lo, hi), idx) =>
          (idx, (hi - lo).toLong, tss(lo), tss(hi - 1),
            dbl(ps(hi) - ps(lo)) / 10000.0 / (hi - lo).toDouble,
            costQ(lo, hi).toDouble / 10000.0)
      }
      val actual = got(key).map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
      assert(actual == expect, s"$key: $actual vs $expect")
    }
    // the injected changepoints are recovered (within a few points):
    // segment starts land at ~the injected shift positions (170, 360)
    val aB = got("a").map(_.getLong(3))
    assert(got("a").length == 3 && math.abs(aB(1) - 170) <= 3 &&
      math.abs(aB(2) - 360) <= 3, s"a: ${got("a").map(_.toSeq)}")
    assert(got("b").length == 2, s"b: ${got("b").map(_.toSeq)}")
    assert(got("flat").length == 1 && got("flat").head.getDouble(6) == 0.0)
    assert(got("one").length == 1 && got("one").head.getLong(2) == 1L)
  }

  test("peltBy property: == exhaustive DP on random regimes, betas and tie shapes") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816)
    def dbl(b: BigInt): Double = new java.math.BigDecimal(b.bigInteger).doubleValue
    // one frame with many (trial, key) series: random lengths, random
    // shift regimes, constant stretches (cost ties), mixed magnitudes
    val trials = (0 until 24).map { trial =>
      val n = 2 + rnd.nextInt(59)
      val beta = Seq(0.1, 1.0, 25.0, 400.0)(rnd.nextInt(4))
      val shifts = (0 until rnd.nextInt(3)).map(_ => rnd.nextInt(n)).sorted
      val vals = (0 until n).map { i =>
        val level = 10.0 * shifts.count(_ <= i)
        if (rnd.nextBoolean()) level + rnd.nextInt(5) // ties + integer plateaus
        else level + rnd.nextDouble() * 4
      }
      (trial, beta, vals)
    }
    trials.groupBy(_._2).foreach { case (beta, group) =>
      val df = group.flatMap { case (trial, _, vals) =>
        vals.zipWithIndex.map { case (v, i) => (s"t$trial", i.toLong, v) }
      }.toDF("k", "t", "v")
      val got = ChangePoint.peltBy(df, "k", "t", "v", BigDecimal(beta))
        .collect().groupBy(_.getString(0))
        .map { case (k, rs) => k -> rs.sortBy(_.getInt(1)).map(r =>
          (r.getLong(3), r.getLong(4))).toSeq }
      group.foreach { case (trial, _, vals) =>
        val xs = vals.map(v => BigInt(quant(v))).toArray
        val n = xs.length
        val betaQ = (BigDecimal(beta) * 10000).toLongExact
        val ps = xs.scanLeft(BigInt(0))(_ + _)
        val pq = xs.scanLeft(BigInt(0))((a, x) => a + x * x)
        def costQ(s: Int, t: Int): Long = {
          val aD = dbl(ps(t) - ps(s)); val qD = dbl(pq(t) - pq(s))
          ChangePointStream.quant4((qD - aD * aD / (t - s).toDouble) / 1e8)
        }
        val f = Array.fill(n + 1)(Long.MaxValue); val tau = new Array[Int](n + 1)
        f(0) = -betaQ
        for (t <- 1 to n; s <- 0 until t) {
          val v = f(s) + costQ(s, t) + betaQ
          if (v < f(t)) { f(t) = v; tau(t) = s }
        }
        var bounds = List(n); var b = n
        while (b > 0) { b = tau(b); bounds = b :: bounds }
        val expect = bounds.sliding(2).toSeq.collect {
          case Seq(lo, hi) => (lo.toLong, (hi - 1).toLong)
        }
        assert(got(s"t$trial") == expect,
          s"trial $trial beta $beta n $n: ${got(s"t$trial")} vs $expect")
      }
    }
  }

  test("peltBy: maxPoints and null metrics are loud") {
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val df = (0 until 100).map(i => ("k", i.toLong, i * 1.0)).toDF("k", "t", "v")
    val e1 = intercept[Exception](
      ChangePoint.peltBy(df, "k", "t", "v", BigDecimal(10), maxPoints = 50).collect())
    assert(msgs(e1).exists(_.contains("maxPoints")))
    val withNull = df.withColumn("v", when(col("t") === 7, lit(null)).otherwise(col("v")))
    val e2 = intercept[Exception](
      ChangePoint.peltBy(withNull, "k", "t", "v", BigDecimal(10)).collect())
    assert(msgs(e2).exists(_.contains("null metric")))
  }

  test("bocpdBernoulliBy == independent reference fold; flags the planted rate flip") {
    import spark.implicits._
    // rate flips 0.1 -> 0.9 at i = 120; an independent (re-derived, not
    // shared-code) Adams-MacKay Beta(1,1)-Bernoulli fold must match
    // bit-for-bit, and the posterior must actually SEE the flip
    val rnd = new scala.util.Random(83)
    val xs = (0 until 200).map(i =>
      if (rnd.nextDouble() < (if (i < 120) 0.1 else 0.9)) 1 else 0)
    val df = xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x) }
      .toDF("k", "t", "x")
    val h = 0.01
    val got = graft.operators.ChangePoint
      .bocpdBernoulliBy(df, "k", "t", "x", hazard = h)
      .collect().sortBy(_.getLong(1))
    assert(got.length == 200)
    // reference fold, written from the paper, no shared code
    var probs = Vector(1.0); var succ = Vector(0)
    val expect = xs.map { x =>
      val ws = probs.indices.map { r =>
        val pred = if (x == 1) (1.0 + succ(r)) / (2.0 + r)
                   else (1.0 + r - succ(r)) / (2.0 + r)
        probs(r) * pred
      }
      var cp = 0.0
      ws.foreach(w => cp += w * h)
      val np = cp +: ws.map(_ * (1.0 - h))
      var norm = 0.0
      np.foreach(norm += _)
      probs = np.map(_ / norm).toVector
      succ = 0 +: succ.map(_ + x)
      val map = probs.indices.maxBy(i => (probs(i), -i))
      (map.toLong, probs(0))
    }
    got.zip(expect).zipWithIndex.foreach { case ((r, (m, p)), i) =>
      assert(r.getLong(2) == m && r.getDouble(3) == p,
        s"event $i: (${r.getLong(2)}, ${r.getDouble(3)}) vs ($m, $p)")
    }
    // the flip shows as a MAP run-length COLLAPSE (the BOCPD detection
    // signal — the per-step p(r=0) itself stays pinned near the hazard
    // prior, which the band check documents)
    val mapRuns = got.map(_.getLong(2))
    assert(mapRuns(119) > 80 && mapRuns.slice(121, 140).min < 25,
      s"MAP run must reset after the flip: ${mapRuns.slice(115, 140).toSeq}")
    val pAt = got.map(_.getDouble(3))
    assert(pAt.forall(p => p > 0.2 * h && p < 5 * h),
      s"p(r=0) should hover near the hazard prior: min ${pAt.min} max ${pAt.max}")
  }

  test("bocpdStream == batch bocpdBernoulliBy across micro-batch boundaries") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val evs = (0 until 150).flatMap { i =>
      Seq(ChangePointStream.BcEvent("a", i.toLong,
            if (rnd.nextDouble() < (if (i < 70) 0.2 else 0.8)) 1 else 0),
          ChangePointStream.BcEvent("b", i.toLong, i % 3 min 1))
    }
    val batch = graft.operators.ChangePoint.bocpdBernoulliBy(
      evs.map(e => (e.key, e.tsMicros, e.x)).toDF("k", "t", "x"),
      "k", "t", "x", hazard = 0.02)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val live = RestartParity.run(evs, seed = 364)(ChangePointStream.bocpdStream(_, 0.02))
    assert(live.length == evs.length)
    live.foreach { r =>
      val k = (r.key, r.tsMicros)
      assert((r.runMap, r.pChange) == batch(k), s"$k")
    }
  }

  test("peltBy/bocpdBernoulliBy: a null key forms its own group, matching the family") {
    import spark.implicits._
    val data: Seq[(Option[String], Long, Double)] =
      (0 until 60).map(i => (None: Option[String], i.toLong,
        if (i < 30) 5.0 else 50.0)) ++
        (0 until 60).map(i => (Some("k"), i.toLong, i.toDouble))
    val df = data.toDF("k", "t", "v")
    val pelt = ChangePoint.peltBy(df, "k", "t", "v", BigDecimal(100))
      .collect().groupBy(r => Option(r.get(0)))
    assert(pelt.contains(None) && pelt(None).map(_.getLong(2)).sum == 60L,
      "null key must segment its own 60-row series")
    assert(pelt(None).length == 2, "the planted step splits the null-key series")
    val xdf = df.withColumn("x", when(col("v") >= 50, 1).otherwise(0))
    val bocpd = ChangePoint.bocpdBernoulliBy(xdf, "k", "t", "x", 0.02)
      .collect().groupBy(r => Option(r.get(0)))
    assert(bocpd.contains(None) && bocpd(None).length == 60,
      "null key must emit one BOCPD row per event")
  }

  test("pettittBy: a null key forms its own group, matching the family") {
    import spark.implicits._
    // family semantics (cusumBy / kendallTauBy): null keys group, not drop
    val data: Seq[(Option[String], Long, Double)] =
      (0 until 40).map(i => (None: Option[String], i.toLong,
        if (i < 20) 1.0 * i else 100.0 + i)) ++
        (0 until 40).map(i => (Some("k"), i.toLong, i.toDouble))
    val df = data.toDF("k", "t", "v")
    val got = ChangePoint.pettittBy(df, "k", "t", "v").collect()
    graft.util.Caching.release()
    assert(got.length == 2, s"null key must emit a row: ${got.toSeq}")
    val nullRow = got.find(_.isNullAt(0)).getOrElse(fail("no null-key row"))
    assert(nullRow.getLong(1) == 40L)
    // same answer as the slice run under a non-null alias
    val aliased = ChangePoint.pettittBy(
      data.filter(_._1.isEmpty).map(x => ("nk", x._2, x._3)).toDF("k", "t", "v"),
      "k", "t", "v").head
    graft.util.Caching.release()
    assert(nullRow.toSeq.drop(1) == aliased.toSeq.drop(1))
  }

  test("cusumStream/pageHinkleyStream replay the batch arms across batch boundaries") {
    import spark.implicits._
    val df = rows.toDF("k", "t", "v")
    val mu0 = BigDecimal(50); val k = BigDecimal(1); val h = BigDecimal(60)
    val batchCp = ChangePoint.cusumBy(df, "k", "t", "v", mu0, k, h)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val batchPh = ChangePoint.pageHinkleyBy(df, "k", "t", "v", 0.4, 40.0)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap

    val evs = rows.sortBy(_._2).map { case (key, t, v) => CpEvent(key, t, v) }
    def box(t: Option[Long]): Any = t.map(Long.box).orNull
    // latest emission per key = the answer (Update semantics)
    val cp = RestartParity.lastPer(RestartParity.run(evs, seed = 432, outputMode = "update")(
      ChangePointStream.cusumStream(_, mu0, k, h)))(_.key)
    assert(cp.keySet == batchCp.keySet)
    cp.foreach { case (key, r) =>
      assert(Seq(r.n, r.sPosMax, r.sNegMax, box(r.alarmPosTs), box(r.alarmNegTs)) ==
        batchCp(key), s"cusum $key")
    }
    val ph = RestartParity.lastPer(RestartParity.run(evs, seed = 448, outputMode = "update")(
      ChangePointStream.pageHinkleyStream(_, 0.4, 40.0)))(_.key)
    assert(ph.keySet == batchPh.keySet)
    ph.foreach { case (key, r) =>
      assert(Seq(r.n, r.phIncMax, r.phDecMax, box(r.alarmIncTs), box(r.alarmDecTs)) ==
        batchPh(key), s"ph $key")
    }
  }

  test("mannKendallStream: final window rows == batch mannKendall / mannKendallBy") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // 4 tumbling windows of 1000 us, drifting metric, repeated cells
    val evs = (0 until 1200).map(i =>
      MkEvent(i.toLong * 3 + 17, rnd.nextInt(30).toDouble + i / 200.0))
    val df = evs.toDF("tsMicros", "value")
      .withColumn("w", (col("tsMicros") - pmod(col("tsMicros"), lit(1000L))))
    val batchBy = graft.operators.RankTests
      .mannKendallBy(df, "w", "tsMicros", "value")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    graft.util.Caching.release()

    val live = RestartParity.lastPer(RestartParity.run(evs, seed = 471, outputMode = "update")(
      TrendStream.mannKendallStream(_, 1000L)))(_.wStart)
    assert(live.keySet == batchBy.keySet)
    live.foreach { case (w, r) =>
      val varS = r.varS.map(Double.box).orNull
      val z = r.z.map(Double.box).orNull
      assert(Seq(r.n, r.s, varS, z) == batchBy(w), s"window $w")
      // and == the global batch test on that window's rows
      val slice = df.filter(col("w") === w)
      val g = graft.operators.RankTests
        .mannKendall(slice, "tsMicros", "value").head
      assert(Seq(r.s, varS, z) == Seq(g.getDouble(1), g.get(2), g.get(3)), s"window $w vs global")
      graft.util.Caching.release()
    }
  }

  test("pettittStream: final window rows == batch pettittBy on the window slices") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    // 4 windows; a level shift inside each; ties via integer values
    val evs = (0 until 1200).map(i => MkEvent(i.toLong * 3 + 11,
      rnd.nextInt(25).toDouble + (if (i % 400 > 200) 8.0 else 0.0)))
    val df = evs.toDF("tsMicros", "value")
      .withColumn("w", (col("tsMicros") - pmod(col("tsMicros"), lit(1000L))))
    val batch = graft.operators.ChangePoint
      .pettittBy(df, "w", "tsMicros", "value")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    graft.util.Caching.release()
    val live = RestartParity.lastPer(RestartParity.run(evs, seed = 523, outputMode = "update")(
      TrendStream.pettittStream(_, 1000L)))(_.wStart)
    assert(live.keySet == batch.keySet)
    live.foreach { case (w, r) =>
      assert(r.productIterator.drop(1).toSeq == batch(w), s"window $w: $r vs ${batch(w)}")
    }
  }

  test("amocStream: final window rows == batch amocSplitBy on the window slices") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    // 4 windows; a level shift inside each
    val evs = (0 until 1200).map(i => MkEvent(i.toLong * 3 + 7,
      rnd.nextGaussian() * 3 + 40.0 + (if (i % 400 > 180) 9.0 else 0.0)))
    val df = evs.toDF("tsMicros", "value")
      .withColumn("w", (col("tsMicros") - pmod(col("tsMicros"), lit(1000L))))
    val batch = graft.operators.ChangePoint
      .amocSplitBy(df, "w", "tsMicros", "value")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    graft.util.Caching.release()
    val live = RestartParity.lastPer(RestartParity.run(evs, seed = 552, outputMode = "update")(
      TrendStream.amocStream(_, 1000L)))(_.wStart)
    assert(live.keySet == batch.keySet)
    live.foreach { case (w, r) =>
      assert(r.productIterator.drop(1).toSeq == batch(w), s"window $w: $r vs ${batch(w)}")
    }
  }

  test("mannKendallStream: cell cap trips loudly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[MkEvent]
    val q = TrendStream.mannKendallStream(mem.toDS(), 1000000L, maxCells = 50)
      .writeStream.format("memory").queryName("mk_cap").outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((0 until 60).map(i => MkEvent(i.toLong, i * 1.0)).toIndexedSeq: _*)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("maxCells")))
    } finally q.stop()
  }

  test("cusumStream/pageHinkleyStream: cross-batch out-of-order arrival is loud") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // batch 1 carries ts 0..9; batch 2 delivers a straggler at ts 5 —
    // the contract check must raise, not silently corrupt the state
    def run(name: String,
            mk: org.apache.spark.sql.Dataset[CpEvent] => org.apache.spark.sql.Dataset[_]): Unit = {
      val mem = MemoryStream[CpEvent]
      val q = mk(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("update")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        mem.addData((0 until 10).map(i => CpEvent("k", i.toLong, i * 1.0)): _*)
        q.processAllAvailable()
        mem.addData(CpEvent("k", 5L, 99.0))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(msgs(e).exists(_.contains("out-of-order event")), s"$name: ${e.getMessage}")
      } finally q.stop()
    }
    run("cp_ooo", ds => ChangePointStream.cusumStream(
      ds, BigDecimal(50), BigDecimal(1), BigDecimal(60)))
    run("ph_ooo", ds => ChangePointStream.pageHinkleyStream(ds, 0.4, 40.0))
  }

  // ── r19: Gaussian BOCPD, in-scan order contracts, adaptive PELT
  // slack, block pre-aggregation API, window-monitor unique-ts ──────

  test("gammaRatios == the closed double-factorial forms; powHalf == StrictMath.pow") {
    // independent formula, not the recurrence: for nu = 2m,
    // g = (2m)! / (4^m m! (m-1)!) * sqrt(pi); for nu = 2m+1,
    // g = m! 4^m m! / ((2m)! sqrt(pi))
    def fact(n: Int): BigInt = (1 to n).foldLeft(BigInt(1))(_ * _)
    val mc = new java.math.MathContext(40)
    val sqrtPi = math.sqrt(math.Pi)
    val gs = ChangePoint.gammaRatios(60)
    (1 to 60).foreach { nu =>
      val expect =
        if (nu % 2 == 0) {
          val m = nu / 2
          (BigDecimal(fact(2 * m), mc) /
            BigDecimal(BigInt(4).pow(m) * fact(m) * fact(m - 1), mc)
            ).toDouble * sqrtPi
        } else {
          val m = nu / 2
          (BigDecimal(fact(m) * BigInt(4).pow(m) * fact(m), mc) /
            BigDecimal(fact(2 * m), mc)).toDouble / sqrtPi
        }
      assert(math.abs(gs(nu) - expect) <= 1e-13 * expect,
        s"g($nu): ${gs(nu)} vs $expect")
    }
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { _ =>
      val b = 1.0 + rnd.nextDouble() * 5
      val e = 1 + rnd.nextInt(80)
      val expect = StrictMath.pow(b, e / 2.0)
      assert(math.abs(ChangePoint.powHalf(b, e) - expect) <= 1e-12 * expect,
        s"powHalf($b, $e)")
    }
  }

  test("bocpdGaussianBy == independent reference fold; flags the planted level shift") {
    import spark.implicits._
    // level 20 -> 45 at i = 120, noise sd 2; the reference fold is
    // RE-DERIVED from Adams-MacKay/Murphy's conjugate tables with a
    // genuinely different pdf chain (StrictMath.pow for the power,
    // double-factorial gamma ratios, sqrt(nu*pi*sig2) combined) — it
    // agrees to fp tolerance, while BIT-exactness is the oracle row's
    // job (q_bocpd_gauss replays the shared chain in DuckDB)
    val rnd = new scala.util.Random(7)
    val xs = (0 until 200).map(i =>
      (if (i < 120) 20.0 else 45.0) + rnd.nextGaussian() * 2)
    val df = xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x) }
      .toDF("k", "t", "x")
    val h = 0.01
    val prior = ChangePoint.GaussianPrior(20.0, 1.0, 1.0, 8.0)
    val got = ChangePoint.bocpdGaussianBy(df, "k", "t", "x", h, prior)
      .collect().sortBy(_.getLong(1))
    assert(got.length == 200)
    def fact(n: Int): BigInt = (1 to n).foldLeft(BigInt(1))(_ * _)
    def gRef(nu: Int): Double =
      if (nu % 2 == 0) {
        val m = nu / 2
        (BigDecimal(fact(2 * m)) / BigDecimal(BigInt(4).pow(m) * fact(m) * fact(m - 1))
          ).toDouble * math.sqrt(math.Pi)
      } else {
        val m = nu / 2
        (BigDecimal(fact(m) * BigInt(4).pow(m) * fact(m)) / BigDecimal(fact(2 * m))
          ).toDouble / math.sqrt(math.Pi)
      }
    var probs = Vector(1.0); var mu = Vector(20.0); var beta = Vector(8.0)
    val expect = xs.map { x =>
      val ws = probs.indices.map { r =>
        val kap = 1.0 + r; val alp = 1.0 + r / 2.0; val nu = 2 + r
        val sig2 = beta(r) * (kap + 1.0) / (alp * kap)
        val z2 = (x - mu(r)) * (x - mu(r)) / sig2
        val pdf = gRef(nu) / math.sqrt(nu * math.Pi * sig2) *
          StrictMath.pow(1.0 + z2 / nu, -(nu + 1) / 2.0)
        probs(r) * pdf
      }
      var cp = 0.0
      ws.foreach(w => cp += w * h)
      val np = cp +: ws.map(_ * (1.0 - h))
      val norm = np.sum
      probs = np.map(_ / norm).toVector
      val oldMu = mu
      mu = 20.0 +: oldMu.zipWithIndex.map { case (m, r) =>
        ((1.0 + r) * m + x) / (2.0 + r) }
      beta = 8.0 +: beta.zipWithIndex.map { case (b, r) =>
        b + (1.0 + r) * (x - oldMu(r)) * (x - oldMu(r)) / (2.0 * (2.0 + r)) }
      val map = probs.indices.maxBy(i => (probs(i), -i))
      (map.toLong, probs(0))
    }
    got.zip(expect).zipWithIndex.foreach { case ((r, (m, p)), i) =>
      assert(r.getLong(2) == m, s"event $i run_map: ${r.getLong(2)} vs $m")
      assert(math.abs(r.getDouble(3) - p) <= 1e-9 * math.max(p, 1e-12),
        s"event $i p_change: ${r.getDouble(3)} vs $p")
    }
    // detection: MAP run collapses right after the shift; the level
    // estimate tracks the new regime
    val mapRuns = got.map(_.getLong(2))
    assert(mapRuns(119) > 80 && mapRuns.slice(121, 140).min < 25,
      s"MAP run must reset after the shift: ${mapRuns.slice(115, 140).toSeq}")
    val lateMu = got.slice(170, 200).map(_.getDouble(4))
    assert(lateMu.forall(m => m > 42 && m < 48),
      s"mu_map must track the new level: ${lateMu.min}..${lateMu.max}")
  }

  test("bocpdGaussianStream == batch bocpdGaussianBy across micro-batch boundaries") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val prior = ChangePoint.GaussianPrior(10.0, 1.0, 1.5, 20.0) // nu0 = 3: odd-dof arm
    val evs = (0 until 150).flatMap { i =>
      Seq(ChangePointStream.GaEvent("a", i.toLong,
            10.0 + rnd.nextGaussian() * 3 + (if (i >= 70) 15.0 else 0.0)),
          ChangePointStream.GaEvent("b", i.toLong, (i % 7) * 2.0 + 1.0))
    }
    val batch = ChangePoint.bocpdGaussianBy(
      evs.map(e => (e.key, e.tsMicros, e.x)).toDF("k", "t", "x"),
      "k", "t", "x", hazard = 0.02, prior)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val live = RestartParity.run(evs, seed = 716)(
      ChangePointStream.bocpdGaussianStream(_, 0.02, prior))
    assert(live.length == evs.length)
    live.foreach { r =>
      val k = (r.key, r.tsMicros)
      assert((r.runMap, r.pChange, r.muMap) == batch(k), s"$k")
    }
  }

  test("sequential DPs: duplicate order keys are loud in-scan (VERDICT r18 #2)") {
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // ts 7 appears twice within the key — each batch scan must raise,
    // matching the streaming twins' checkInOrder loudness
    val dup = ((0 until 30).map(i => ("k", i.toLong, i * 1.0)) :+ ("k", 7L, 99.0))
      .toDF("k", "t", "v")
    val e1 = intercept[Exception](
      ChangePoint.peltBy(dup, "k", "t", "v", BigDecimal(10)).collect())
    assert(msgs(e1).exists(_.contains("duplicate order key")), e1.getMessage)
    val e2 = intercept[Exception](
      ChangePoint.bocpdBernoulliBy(
        dup.withColumn("x", lit(1)), "k", "t", "x", 0.01).collect())
    assert(msgs(e2).exists(_.contains("duplicate order key")), e2.getMessage)
    val e3 = intercept[Exception](
      ChangePoint.bocpdGaussianBy(dup, "k", "t", "v", 0.01,
        ChangePoint.GaussianPrior(0.0, 1.0, 1.0, 1.0)).collect())
    assert(msgs(e3).exists(_.contains("duplicate order key")), e3.getMessage)
    // the same ts under DIFFERENT keys stays legal
    val twoKeys = (0 until 20).flatMap(i =>
      Seq(("a", i.toLong, i * 1.0), ("b", i.toLong, i * 2.0))).toDF("k", "t", "v")
    assert(ChangePoint.peltBy(twoKeys, "k", "t", "v", BigDecimal(10))
      .collect().nonEmpty)
  }

  test("bocpdGaussianBy: maxPoints and null metrics are loud") {
    import spark.implicits._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val prior = ChangePoint.GaussianPrior(0.0, 1.0, 1.0, 1.0)
    val df = (0 until 100).map(i => ("k", i.toLong, i * 1.0)).toDF("k", "t", "v")
    val e1 = intercept[Exception](
      ChangePoint.bocpdGaussianBy(df, "k", "t", "v", 0.01, prior,
        maxPoints = 50).collect())
    assert(msgs(e1).exists(_.contains("maxPoints")))
    val withNull = df.withColumn("v",
      when(col("t") === 7, lit(null)).otherwise(col("v")))
    val e2 = intercept[Exception](
      ChangePoint.bocpdGaussianBy(withNull, "k", "t", "v", 0.01, prior).collect())
    assert(msgs(e2).exists(_.contains("null metric")))
    // prior hygiene: non-integral 2*alpha0 rejected (the replayability
    // precondition), bad scales rejected
    intercept[IllegalArgumentException](ChangePoint.GaussianPrior(0, 1, 0.75, 1))
    intercept[IllegalArgumentException](ChangePoint.GaussianPrior(0, 1, 1, 0))
  }

  test("peltBy property: == exhaustive DP at large magnitudes (adaptive slack, ADVICE r18)") {
    import spark.implicits._
    // metrics near 1e7: pq(n) ~ 1e23, so the IEEE cost chain's error
    // (~ulp(pq) = 6.7e7 scale-8 = thousands of scale-4 cost units)
    // EXCEEDS the old fixed 1000 slack — the per-key adaptive slack
    // must keep pruning exact against the same exhaustive replay
    val rnd = new scala.util.Random(20260817)
    def dbl(b: BigInt): Double = new java.math.BigDecimal(b.bigInteger).doubleValue
    val base = 9.5e6
    val trials = (0 until 12).map { trial =>
      val n = 10 + rnd.nextInt(40)
      val shifts = (0 until rnd.nextInt(3)).map(_ => rnd.nextInt(n)).sorted
      val vals = (0 until n).map { i =>
        val level = base + 8.0 * shifts.count(_ <= i)
        if (rnd.nextBoolean()) level + rnd.nextInt(4) // exact plateaus: cost ties
        else level + rnd.nextDouble() * 3
      }
      (trial, vals)
    }
    val beta = BigDecimal(50)
    val df = trials.flatMap { case (trial, vals) =>
      vals.zipWithIndex.map { case (v, i) => (s"t$trial", i.toLong, v) }
    }.toDF("k", "t", "v")
    val got = ChangePoint.peltBy(df, "k", "t", "v", beta)
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.sortBy(_.getInt(1)).map(r =>
        (r.getLong(3), r.getLong(4))).toSeq }
    trials.foreach { case (trial, vals) =>
      val xs = vals.map(v => BigInt(quant(v))).toArray
      val n = xs.length
      val betaQ = (beta * 10000).toLongExact
      val ps = xs.scanLeft(BigInt(0))(_ + _)
      val pq = xs.scanLeft(BigInt(0))((a, x) => a + x * x)
      def costQ(s: Int, t: Int): Long = {
        val aD = dbl(ps(t) - ps(s)); val qD = dbl(pq(t) - pq(s))
        ChangePointStream.quant4((qD - aD * aD / (t - s).toDouble) / 1e8)
      }
      val f = Array.fill(n + 1)(Long.MaxValue); val tau = new Array[Int](n + 1)
      f(0) = -betaQ
      for (t <- 1 to n; s <- 0 until t) {
        val v = f(s) + costQ(s, t) + betaQ
        if (v < f(t)) { f(t) = v; tau(t) = s }
      }
      var bounds = List(n); var b = n
      while (b > 0) { b = tau(b); bounds = b :: bounds }
      val expect = bounds.sliding(2).toSeq.collect {
        case Seq(lo, hi) => (lo.toLong, (hi - 1).toLong)
      }
      assert(got(s"t$trial") == expect,
        s"trial $trial n $n: ${got(s"t$trial")} vs $expect")
    }
  }

  test("blockSeries/blockIndicator/blockMeans: the detectors' pre-aggregation contract") {
    import spark.implicits._
    val df = (0 until 20).map(i => ("k", i.toLong, i + 0.25))
      .toDF("key0", "ord0", "v0")
    val sums = ChangePoint.blockSeries(df, "key0", "ord0", "v0", lit(6))
      .collect().map(r => r.getLong(1) -> r.getDecimal(2)).toMap
    assert(sums.keySet == Set(0L, 1L, 2L, 3L))
    // block 1 = ords 6..11: sum(i + 0.25) = 51 + 6*0.25 = 52.5, exact
    assert(sums(1L) == new java.math.BigDecimal("52.5000"), sums(1L))
    val ind = ChangePoint.blockIndicator(df, "key0", "ord0", "v0",
      lit(6), threshPerUnit = lit(5))
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    // per-unit threshold 5 * grain 6 = 30: blocks 0 (16.5) and 3 (35.5
    // over only 2 ords... sum ords 18,19 = 37.5 + 0.5) -> 0/1 per sum
    assert(ind == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 1), ind)
    val means = ChangePoint.blockMeans(df, "key0", "ord0", "v0", lit(6))
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(means(1L) == 52.5 / 6 && means(3L) == 37.5 / 2, means)
    // the adaptive-grain shape: a broadcast one-row grain column rides
    // the same expression (the q_bocpd/q_bocpd_gauss prelude)
    val grain = df.agg(ceil((max(col("ord0")) + 1) / lit(4.0)).cast("long").as("__g"))
    val adaptive = ChangePoint.blockMeans(df.crossJoin(broadcast(grain)),
      "key0", "ord0", "v0", col("__g"))
    assert(adaptive.collect().length == 4, "20 ords / grain 5 -> 4 blocks")
  }

  test("window monitors: same-ts different-value events are loud (VERDICT r18 #1)") {
    import graft.streaming.TrendStream.MkCell
    // two cells with c == 1 sharing a ts — the old all-counts-1 check
    // passed this, but the batch arm's order contract is violated
    val cells = Seq(MkCell(5L, 1.0, 1L), MkCell(5L, 2.0, 1L), MkCell(6L, 3.0, 1L))
    val e1 = intercept[IllegalArgumentException](TrendStream.amocFromCells(cells))
    assert(e1.getMessage.contains("share a ts"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](TrendStream.pettittFromCells(cells))
    assert(e2.getMessage.contains("share a ts"), e2.getMessage)
    // duplicate (ts, value) still raises through the count check
    val dup = Seq(MkCell(5L, 1.0, 2L))
    assert(intercept[IllegalArgumentException](TrendStream.amocFromCells(dup))
      .getMessage.contains("duplicate (ts, value)"))
    // unique-ts input stays green
    assert(TrendStream.amocFromCells(
      Seq(MkCell(1L, 1.0, 1L), MkCell(2L, 5.0, 1L), MkCell(3L, 6.0, 1L))).nonEmpty)
  }

  test("trend-stream window state: idle windows release their cell tables on TTL") {
    // a live query with a 3 s idle TTL: window 0 folds one event per
    // batch (the second re-arms the timer), sits idle past its timer, and
    // a late event into the same window then opens a FRESH cell table
    // (n = 1) — while without a TTL the same late event extends the kept
    // table (n = 3)
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def lateN(ttl: Option[Long], name: String): Long = {
      val mem = MemoryStream[MkEvent]
      val q = TrendStream.mannKendallStream(mem.toDS(), 1000000L, stateTtlMs = ttl)
        .writeStream.format("memory").queryName(name).outputMode("update")
        .trigger(Trigger.ProcessingTime(100)).start()
      def rows = spark.table(name).as[TrendStream.MkReadout].collect()
      def waitFor(p: => Boolean): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!p) {
          assert(System.nanoTime() < deadline, s"$name: timed out")
          Thread.sleep(50)
        }
      }
      def stateRows = Option(q.lastProgress).flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal)
      try {
        mem.addData(MkEvent(1L, 2.0))
        waitFor(rows.exists(_.n == 1L))
        mem.addData(MkEvent(2L, 3.0))
        waitFor(rows.exists(_.n == 2L))
        if (ttl.isDefined) waitFor(stateRows.contains(0L)) // the timer cleared the window
        else Thread.sleep(3500)
        mem.addData(MkEvent(3L, 4.0))
        waitFor(rows.length == 3)
        rows.last.n
      } finally q.stop()
    }
    assert(lateN(Some(3000L), "mk_ttl") == 1L, "an expired window must restart empty")
    assert(lateN(None, "mk_no_ttl") == 3L, "without a TTL the window keeps its cells")
  }
}
