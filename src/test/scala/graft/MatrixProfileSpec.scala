package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MatrixProfile
import graft.streaming.MatrixProfileStream
import graft.streaming.MatrixProfileStream.MpEvent

case class MpRow(key: String, ord: Long, x: Double)

/** Banded left matrix profile: the per-diagonal incremental recursion
  * must equal the exhaustive direct-sum definition EXACTLY (integer
  * arithmetic — not a tolerance), motifs/discords must land where
  * planted, and the stream twin must replay the batch arm bit-for-bit
  * across micro-batch boundaries (the shared-core discipline). */
class MatrixProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Exhaustive reference: for each window start i >= lag, min over the
    * banded earlier windows by (dist2, then SMALLEST neighbor ord). */
  private def brute(xs: Array[Long], w: Int, lag: Int, band: Int)
      : Seq[(Long, Long, Long)] =
    (lag to xs.length - w).map { i =>
      val cands = for {
        d <- lag until lag + band
        j = i - d
        if j >= 0
      } yield {
        var s = BigInt(0)
        (0 until w).foreach { k =>
          val df = BigInt(xs(i + k)) - BigInt(xs(j + k))
          s += df * df
        }
        (s, j.toLong)
      }
      val (d2, j) = cands.minBy(identity)
      (i.toLong, j, d2.bigInteger.longValueExact())
    }

  private def runBatch(rows: Seq[MpRow], w: Int, band: Int,
                       lag: Int = -1): Seq[(String, Long, Long, Long, Long, Double)] = {
    import spark.implicits._
    MatrixProfile.leftProfileBy(rows.toDF(), "key", "ord", "x", w, band, lag)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(5),
        r.getLong(4), r.getDouble(6)))
      .sortBy(t => (t._1, t._2)).toSeq
  }

  test("leftProfileBy == exhaustive direct-sum reference, ties to the " +
    "smallest neighbor (seeded multi-key property)") {
    val rnd = new scala.util.Random(4242)
    val w = 4; val band = 7; val lag = 5
    val keys = Seq("a", "b", "c")
    // half-unit values in a narrow range force abundant distance ties
    val series = keys.map { k =>
      k -> Array.fill(40 + rnd.nextInt(20))((rnd.nextInt(9) - 4) * 0.5)
    }.toMap
    val rows = series.toSeq.flatMap { case (k, xs) =>
      xs.zipWithIndex.map { case (x, i) => MpRow(k, i.toLong, x) }
    }
    val got = runBatch(rows, w, band, lag)
    val want = series.toSeq.sortBy(_._1).flatMap { case (k, xs) =>
      val q = xs.map(x => (x * 10000.0).round)
      brute(q, w, lag, band).map { case (i, j, d2) =>
        (k, i, j, d2, i - j, Math.sqrt(d2.toDouble) / 1e4)
      }
    }
    assert(got == want, "incremental diagonal recursion must equal the " +
      "exhaustive definition exactly")
  }

  test("planted motif reads dist2 == 0 at its lag; planted discord is the " +
    "profile max") {
    val rnd = new scala.util.Random(7)
    val w = 5
    val xs = Array.fill(60)(rnd.nextInt(100) / 10.0)
    (0 until w).foreach(k => xs(35 + k) = xs(10 + k)) // motif: 35 repeats 10
    xs(50) = 900.0 // discord: a spike no earlier window matches
    val rows = xs.zipWithIndex.map { case (x, i) => MpRow("m", i.toLong, x) }
    val prof = runBatch(rows.toIndexedSeq, w, band = 30, lag = w)
    val at35 = prof.find(_._2 == 35L).get
    assert(at35._4 == 0L && at35._3 == 10L,
      s"motif window must match its source exactly, got $at35")
    val discord = prof.maxBy(_._4)
    assert((46L to 50L).contains(discord._2),
      s"the discord (max profile) must be a window containing the spike, " +
        s"got ord ${discord._2}")
  }

  test("stream twin replays batch bit-for-bit across micro-batch " +
    "boundaries (shared exact-integer core)") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val w = 4; val band = 6
    val evs = Seq("s1", "s2").flatMap { k =>
      (0 until 50).map(i => MpEvent(k, i.toLong * 1000, rnd.nextInt(80) / 4.0))
    }
    val batch = runBatch(
      evs.map(e => MpRow(e.key, e.tsMicros, e.x)), w, band)

    val live = RestartParity.run(evs.sortBy(_.tsMicros), seed = 94)(
        MatrixProfileStream.leftProfileStream(_, w, band))
      .map(r => (r.key, r.ord, r.nnOrd, r.dist2, r.nnLag, r.dist))
      .sortBy(t => (t._1, t._2))
    assert(live == batch,
      "stream rows must be bit-identical to the batch profile")
  }

  /** Exhaustive z-normalized reference: the SAME fixed IEEE chain as
    * the impl, but from direct sums instead of the recursion. */
  private def bruteZ(xs: Array[Long], w: Int, lag: Int, band: Int)
      : Seq[(Long, Long, Double)] =
    (lag to xs.length - w).flatMap { i =>
      def s(o: Int) = (0 until w).map(k => xs(o + k)).sum
      def q(o: Int) = (0 until w).map(k => xs(o + k) * xs(o + k)).sum
      val ai = w.toLong * q(i) - s(i) * s(i)
      if (ai == 0L) None
      else {
        val cands = for {
          d <- lag until lag + band
          j = i - d
          if j >= 0
          bj = w.toLong * q(j) - s(j) * s(j)
          if bj > 0L
        } yield {
          val qt = (0 until w).map(k => xs(i + k) * xs(j + k)).sum
          val r = (w.toLong * qt - s(i) * s(j)).toDouble /
            Math.sqrt(ai.toDouble * bj.toDouble)
          (Math.sqrt(math.max(0.0, 2.0 * w * (1.0 - r))), j.toLong)
        }
        if (cands.isEmpty) None
        else {
          val (dz, j) = cands.minBy(identity)
          Some((i.toLong, j, dz))
        }
      }
    }

  test("leftProfileZBy == exhaustive z-normalized reference; constant " +
    "windows neither emit nor match (seeded property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1312)
    val w = 4; val band = 6; val lag = 4
    val xs = Array.fill(50)((rnd.nextInt(9) - 4) * 0.5)
    java.util.Arrays.fill(xs, 20, 20 + w, 2.5) // one constant window
    val rows = xs.zipWithIndex.map { case (x, i) => MpRow("z", i.toLong, x) }
    val got = graft.operators.MatrixProfile
      .leftProfileZBy(rows.toSeq.toDF(), "key", "ord", "x", w, band, lag)
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getDouble(5)))
      .sortBy(_._1).toSeq
    val q = xs.map(x => (x * 10000.0).round)
    val want = bruteZ(q, w, lag, band)
    assert(got == want,
      "z recursion must equal the direct-sum chain bit-for-bit")
    assert(!got.exists(_._1 == 20L),
      "the constant window must emit no row")
  }

  test("z profile finds the SHAPE motif a level shift hides from the raw " +
    "profile") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val w = 5
    val xs = Array.fill(50)(rnd.nextInt(100) / 10.0)
    // window 30 = window 8's SHAPE, 400 units higher
    (0 until w).foreach(k => xs(30 + k) = xs(8 + k) + 400.0)
    val rows = xs.zipWithIndex.map { case (x, i) => MpRow("s", i.toLong, x) }
      .toSeq.toDF()
    val z30 = graft.operators.MatrixProfile
      .leftProfileZBy(rows, "key", "ord", "x", w, 30)
      .filter(col("ord") === 30).head()
    assert(z30.getLong(3) == 8L && z30.getDouble(5) == 0.0,
      s"z profile must match the shifted shape exactly, got $z30")
    val raw30 = graft.operators.MatrixProfile
      .leftProfileBy(rows, "key", "ord", "x", w, 30)
      .filter(col("ord") === 30).head()
    assert(raw30.getDouble(6) > 100.0,
      s"the raw profile must see the level shift as distance, got $raw30")
  }

  test("z stream twin replays batch bit-for-bit across micro-batch " +
    "boundaries") {
    import spark.implicits._
    val rnd = new scala.util.Random(321)
    val w = 4; val band = 6
    val evs = (0 until 60).map(i =>
      MpEvent("zk", i.toLong * 500, rnd.nextInt(40) / 2.0))
    val batch = graft.operators.MatrixProfile
      .leftProfileZBy(evs.map(e => MpRow(e.key, e.tsMicros, e.x)).toDF(),
        "key", "ord", "x", w, band)
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getDouble(5)))
      .sortBy(_._1).toSeq
    val live = RestartParity.run(evs, seed = 195)(
        MatrixProfileStream.leftProfileZStream(_, w, band))
      .map(r => (r.ord, r.nnOrd, r.dist))
      .sortBy(_._1)
    assert(live == batch,
      "z stream rows must be bit-identical to the batch profile")
  }

  /** Exhaustive bidirectional reference: candidates from BOTH sides of
    * the band, global (dist2, smallest-neighbor) argmin. */
  private def bruteFull(xs: Array[Long], w: Int, lag: Int, band: Int)
      : Seq[(Long, Long, Long)] =
    (0 to xs.length - w).flatMap { i =>
      val cands = for {
        j <- 0 to xs.length - w
        d = math.abs(i - j)
        if d >= lag && d < lag + band
      } yield {
        var s = BigInt(0)
        (0 until w).foreach { k =>
          val df = BigInt(xs(i + k)) - BigInt(xs(j + k))
          s += df * df
        }
        (s, j.toLong)
      }
      if (cands.isEmpty) None
      else {
        val (d2, j) = cands.minBy(identity)
        Some((i.toLong, j, d2.bigInteger.longValueExact()))
      }
    }

  test("fullProfileBy == exhaustive bidirectional reference incl. global " +
    "tie-breaks (seeded tie-rich property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(2718)
    val w = 4; val band = 7; val lag = 5
    val xs = Array.fill(45)((rnd.nextInt(7) - 3) * 0.5)
    val rows = xs.zipWithIndex.map { case (x, i) => MpRow("f", i.toLong, x) }
    val got = graft.operators.MatrixProfile
      .fullProfileBy(rows.toSeq.toDF(), "key", "ord", "x", w, band, lag)
      .collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(5), r.getLong(4),
        r.getDouble(6)))
      .sortBy(_._1).toSeq
    val q = xs.map(x => (x * 10000.0).round)
    val want = bruteFull(q, w, lag, band).map { case (i, j, d2) =>
      (i, j, d2, i - j, Math.sqrt(d2.toDouble) / 1e4)
    }
    assert(got == want, "the two-arm composition must reproduce the " +
      "global bidirectional argmin exactly, ties to the smallest neighbor")
    // windows past the left band's reach still profile (right neighbors)
    assert(got.exists(t => t._1 < lag && t._4 < 0),
      "an early window must match a LATER neighbor (negative lag)")
    graft.util.Caching.release() // the composition's shared-scan barrier
  }

  test("fullProfileZBy: a shape planted only LATER is found with negative " +
    "lag; left arm alone cannot see it") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val w = 5
    val xs = Array.fill(40)(rnd.nextInt(100) / 10.0)
    (0 until w).foreach(k => xs(25 + k) = xs(3 + k) + 7.0) // 3's shape at 25
    val rows = xs.zipWithIndex.map { case (x, i) => MpRow("g", i.toLong, x) }
      .toSeq.toDF()
    val full3 = graft.operators.MatrixProfile
      .fullProfileZBy(rows, "key", "ord", "x", w, 30).filter(col("ord") === 3)
      .head()
    assert(full3.getLong(3) == 25L && full3.getLong(4) == -22L &&
      full3.getDouble(5) == 0.0,
      s"window 3 must find its later twin at 25, got $full3")
    graft.util.Caching.release()
  }

  test("loud contracts: duplicate order key, null metric, overlapping " +
    "exclusion zone, quantization overflow") {
    import spark.implicits._
    def firstCause(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      s"${c.getClass.getName}: ${c.getMessage}"
    }
    val dup = Seq(MpRow("k", 0, 1.0), MpRow("k", 1, 2.0), MpRow("k", 1, 3.0),
      MpRow("k", 2, 1.0), MpRow("k", 3, 2.0), MpRow("k", 4, 1.0),
      MpRow("k", 5, 2.0))
    val e1 = intercept[Exception](
      MatrixProfile.leftProfileBy(dup.toDF(), "key", "ord", "x", 2, 2).collect())
    assert(firstCause(e1).contains("duplicate order key"), firstCause(e1))

    val nul = Seq(MpRow("k", 0, 1.0)).toDF()
      .union(Seq(("k", 1L)).toDF("key", "ord").withColumn("x",
        lit(null).cast("double")))
    val e2 = intercept[Exception](
      MatrixProfile.leftProfileBy(nul, "key", "ord", "x", 2, 2).collect())
    assert(firstCause(e2).contains("null metric"), firstCause(e2))

    val e3 = intercept[IllegalArgumentException](
      MatrixProfile.leftProfileBy(dup.toDF(), "key", "ord", "x", 4, 2,
        minLag = 2))
    assert(e3.getMessage.contains("exclusion-zone"), e3.getMessage)

    // |x| ~ 7e8 quantizes to ~7e12; one squared diff overflows Long
    val big = (0 until 8).map(i =>
      MpRow("k", i.toLong, if (i % 2 == 0) 7e8 else -7e8))
    val e4 = intercept[Exception](
      MatrixProfile.leftProfileBy(big.toDF(), "key", "ord", "x", 2, 2).collect())
    assert(firstCause(e4).contains("overflow"), firstCause(e4))
  }
}
