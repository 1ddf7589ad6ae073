package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOf, Dynamic}
import graft.ts.{GraftFrame, Sources, TickStream}

/** Property-style tests (seeded random cases) for ordering/merge laws
  * (SURVEY §5 commitment) plus GraftFrame / Dynamic coverage. */
class LawsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def day(i: Int) = f"2020-01-$i%02d 00:00:00"
  def curveOf(key: String, vals: Seq[(Int, Double)]) =
    Sources.curve(spark, key, vals.map { case (d, v) => day(d) -> v })

  private val rnd = new scala.util.Random(42)
  private def randomCurve(): Seq[(Int, Double)] = {
    val n = 1 + rnd.nextInt(6)
    rnd.shuffle((1 to 9).toList).take(n).sorted
      .map(d => d -> (rnd.nextInt(101) - 50).toDouble)
  }

  test("law: disjoint-time merge contains all ticks in time order") {
    (1 to 8).foreach { _ =>
      val a = randomCurve()
      val bShift = randomCurve().map { case (d, v) => (d + 10) -> v }
      val l = curveOf("k", a)
      val r = Sources.curve(spark, "k",
        bShift.map { case (d, v) => f"2020-01-$d%02d 00:00:00" -> v })
      assert(l.merge(r).run().map(_._2) == (a.map(_._2) ++ bShift.map(_._2)))
    }
  }

  test("law: merge left-wins on every colliding timestamp") {
    (1 to 8).foreach { _ =>
      val a = randomCurve()
      val l = curveOf("k", a)
      val r = curveOf("k", a.map { case (d, v) => (d, v + 1000) })
      assert(l.merge(r).run().map(_._2) == a.map(_._2))
    }
  }

  test("law: math-DSL tail matches scala.math / python semantics per tick") {
    // aligned streams (same timestamps) so binop fires on every tick pair
    val xs = Seq(1 -> 7.0, 2 -> -7.0, 3 -> 2.5, 4 -> -2.5, 5 -> 0.5)
    val ys = Seq(1 -> 3.0, 2 -> 3.0, 3 -> -2.0, 4 -> -2.0, 5 -> 0.25)
    val x = curveOf("k", xs)
    val y = curveOf("k", ys)
    def vals(t: TickStream): Seq[Double] = t.run().map(_._2.asInstanceOf[Double])
    def bools(t: TickStream): Seq[Boolean] = t.run().map(_._2.asInstanceOf[Boolean])
    // python // and % semantics (floor division, divisor-sign mod)
    assert(vals(x.floorDiv(y)) == Seq(2.0, -3.0, -2.0, 1.0, 2.0))
    assert(vals(x.modOf(y)) == xs.zip(ys).map { case ((_, a), (_, b)) =>
      val r = a % b; if (r != 0 && ((r < 0) != (b < 0))) r + b else r
    })
    assert(vals(x.minWith(y)) == xs.zip(ys).map { case ((_, a), (_, b)) => math.min(a, b) })
    assert(vals(x.maxWith(y)) == xs.zip(ys).map { case ((_, a), (_, b)) => math.max(a, b) })
    // Spark's POW evaluates via StrictMath — may differ from Math.pow by 1 ulp
    assert(vals(x.powOf(y)).zip(xs.zip(ys).map { case ((_, a), (_, b)) => math.pow(a, b) })
      .forall { case (g, w) => math.abs(g - w) <= 1e-12 })
    assert(bools(x <= y) == xs.zip(ys).map { case ((_, a), (_, b)) => a <= b })
    assert(bools(x >= y) == xs.zip(ys).map { case ((_, a), (_, b)) => a >= b })
    assert(bools(x === y) == xs.zip(ys).map { case ((_, a), (_, b)) => a == b })
    assert(bools(x =!= y) == xs.zip(ys).map { case ((_, a), (_, b)) => a != b })
    // unary tail vs scala.math (same libm entry points as python's math.*)
    val u = curveOf("k", Seq(1 -> 0.3, 2 -> 0.7, 3 -> 0.9))
    def close(got: Seq[Double], want: Seq[Double], tol: Double = 1e-12) =
      got.zip(want).forall { case (g, w) => math.abs(g - w) <= tol }
    assert(close(vals(u.sinTicks), Seq(0.3, 0.7, 0.9).map(math.sin)))
    assert(close(vals(u.acosTicks), Seq(0.3, 0.7, 0.9).map(math.acos)))
    assert(close(vals(u.atanhTicks), Seq(0.3, 0.7, 0.9).map(x0 => 0.5 * math.log((1 + x0) / (1 - x0)))))
    assert(close(vals(u.log2Ticks), Seq(0.3, 0.7, 0.9).map(x0 => math.log(x0) / math.log(2))))
    assert(close(vals(u.exp2Ticks), Seq(0.3, 0.7, 0.9).map(x0 => math.pow(2, x0))))
    // erf: A&S 7.1.26 rational approximation, |err| <= 1.5e-7
    val erfWant = Seq(0.3286267594591274, 0.6778011938374184, 0.7969082124228322)
    assert(close(vals(u.erfTicks), erfWant, 2e-7))
    assert(vals(u.erfTicks.unary_-.absTicks) == vals(u.erfTicks)) // odd-function sanity via DSL chain
    // integer stream: bitwise_not
    val ints = Sources.curveOf(spark, "k", Seq(day(1) -> 5L, day(2) -> -1L),
      org.apache.spark.sql.types.LongType)
    assert(ints.bitNot.run().map(_._2) == Seq(-6L, 0L))
    // struct stream: to_json serialization
    val structed = TickStream(ints.df.withColumn("value",
      org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.col("value").as("v"))))
    assert(structed.toJson().run().map(_._2) == Seq("""{"v":5}""", """{"v":-1}"""))
    // boolean streams
    val p = Sources.curveOf(spark, "k", Seq(day(1) -> true, day(2) -> false),
      org.apache.spark.sql.types.BooleanType)
    val q = Sources.curveOf(spark, "k", Seq(day(1) -> true, day(2) -> true),
      org.apache.spark.sql.types.BooleanType)
    assert(bools(p.and(q)) == Seq(true, false))
    assert(bools(p.or(q)) == Seq(true, true))
    assert(bools(p.not) == Seq(false, true))
  }

  test("law: sample(x, x) is identity on values") {
    (1 to 8).foreach { _ =>
      val a = randomCurve()
      val x = curveOf("k", a)
      assert(AsOf.sample(x, x).run().map(_._2) == a.map(_._2))
    }
  }

  test("law: every sampled value was x's current value at trigger time") {
    (1 to 8).foreach { _ =>
      val a = randomCurve()
      val t = randomCurve()
      val sampled = AsOf.sample(curveOf("k", t), curveOf("k", a)).run()
      sampled.foreach { case (ts, v) =>
        val eligible = a.filter { case (d, _) => !java.sql.Timestamp.valueOf(day(d)).after(ts) }
        assert(eligible.nonEmpty && eligible.last._2 == v)
      }
    }
  }

  test("GraftFrame: edge algebra after ffill (dataframe.py:72-128)") {
    val bid = curveOf("k", Seq(1 -> 10.0, 3 -> 12.0))
    val ask = curveOf("k", Seq(2 -> 14.0))
    val f = GraftFrame("bid" -> bid, "ask" -> ask).ffill()
      .withEdge("mid", (org.apache.spark.sql.functions.col("bid") +
        org.apache.spark.sql.functions.col("ask")) / 2)
    val mids = f.toDF.collect().map(r => Option(r.get(r.fieldIndex("mid"))))
    assert(mids.toSeq == Seq(None, Some(12.0), Some(13.0)))
  }

  test("Dynamic.perKey + keyEvents lifecycle") {
    val basket = TickStream(curveOf("a", Seq(1 -> 1.0, 3 -> 2.0)).df
      .unionByName(curveOf("b", Seq(2 -> 5.0)).df))
    val counted = Dynamic.perKey(basket)(_.runningCount())
    assert(counted.demultiplex("a").df.count() == 2)
    val ev = Dynamic.keyEvents(basket).df.collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("event")))
    assert(ev.toSet == Set(("a", "added"), ("a", "removed"), ("b", "added"), ("b", "removed")))
    // dynamic_collect: per-cycle map tracks membership as keys appear
    val maps = Dynamic.collect(basket).run()
      .map(_._2.asInstanceOf[Map[String, Any]].keySet)
    assert(maps == Seq(Set("a"), Set("b"), Set("a"))) // t1: a, t2: b, t3: a
  }

  test("Dynamic.removeKey: eviction ends the instance, next tick re-adds fresh (test_baskets.py:160-210)") {
    // key "a" ticks at t1, t2; removed at t3; re-added at t4, ticks t5.
    // key "b" ticks at t2, t4 and is never removed.
    val basket = TickStream(curveOf("a", Seq(1 -> 1.0, 2 -> 2.0, 4 -> 3.0, 5 -> 4.0)).df
      .unionByName(curveOf("b", Seq(2 -> 5.0, 4 -> 6.0)).df))
    val removals = TickStream(curveOf("a", Seq(3 -> 0.0)).df)
    val epoched = Dynamic.removeKey(basket, removals)
    val rows = epoched.df.orderBy("ts", "key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Double]("value"), r.getAs[Long]("epoch")))
    // a's pre-removal ticks are epoch 0, post-removal epoch 1 (fresh
    // instance); b never changes epoch
    assert(rows.toSeq == Seq(("a", 1.0, 0L), ("a", 2.0, 0L), ("b", 5.0, 0L),
      ("a", 3.0, 1L), ("b", 6.0, 0L), ("a", 4.0, 1L)))
    // per-instance operators partition on (key, epoch): count restarts
    val counted = Dynamic.perKey(epoched)(ts => graft.ts.TickStream(ts.df.withColumn(
      "cnt", org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("key", "epoch").orderBy("ts", "seq")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))))
    val cnts = counted.df.filter(org.apache.spark.sql.functions.col("key") === "a")
      .orderBy("ts").collect().map(_.getAs[Long]("cnt"))
    assert(cnts.toSeq == Seq(1L, 2L, 1L, 2L), "re-added instance must restart its state")
    // same-cycle rule: a data tick AT the removal time stays in the old epoch
    val sameCycle = Dynamic.removeKey(
      TickStream(curveOf("a", Seq(3 -> 9.0)).df), removals)
      .df.collect().map(_.getAs[Long]("epoch"))
    assert(sameCycle.toSeq == Seq(0L))
    // lifecycle: re-add fires "added" again; removal fires "removed" at t3
    val ev = Dynamic.keyEvents(basket, removals).df.collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("event"),
        r.getAs[java.sql.Timestamp]("ts").toString.take(10)))
    assert(ev.count(e => e._1 == "a" && e._2 == "added") == 2)
    assert(ev.toSet.contains(("a", "removed", day(3).take(10))))
    assert(ev.count(e => e._1 == "b" && e._2 == "added") == 1)
    // streaming parity: removal rows (seq < 0) clear the key's state —
    // the count restarts exactly like the batch epochs, across restarts
    def us(i: Int) = java.sql.Timestamp.valueOf(day(i)).getTime * 1000L
    import graft.streaming.StatefulOps
    val spark2 = spark; import spark2.implicits._
    val ticks = Seq(
      StatefulOps.TickRow("a", us(1), 0, 1.0), StatefulOps.TickRow("a", us(2), 1, 2.0),
      StatefulOps.TickRow("a", us(3), -1, 0.0), // removal marker
      StatefulOps.TickRow("a", us(4), 2, 3.0), StatefulOps.TickRow("a", us(5), 3, 4.0),
      StatefulOps.TickRow("b", us(2), 0, 5.0), StatefulOps.TickRow("b", us(4), 1, 6.0))
      .sortBy(r => (r.tsMicros, r.seq < 0, math.abs(r.seq)))
    val sc = RestartParity.run(ticks, seed = 176)(StatefulOps.countStreamWithRemoval)
      .sortBy(r => (r.key, r.tsMicros)).map(r => (r.key, r.count))
    assert(sc.toSeq == Seq(("a", 1L), ("a", 2L), ("a", 1L), ("a", 2L), ("b", 1L), ("b", 2L)))
  }

  test("Dynamic.snap/attach: snap-at-spawn argument capture (dynamic.py:120-151)") {
    // trigger keys spawn at different times; the snapped reference stream
    // ticks 10.0 at t1 and 20.0 at t2 — key "a" (spawn t1) must capture
    // 10.0 and key "b" (spawn t2) 20.0, as per-instance CONSTANTS even
    // on later ticks; key "c" spawns before the reference's first tick
    // -> null (reference defers instantiation until snap args are valid)
    val trigger = TickStream(curveOf("a", Seq(1 -> 1.0, 3 -> 2.0)).df
      .unionByName(curveOf("b", Seq(2 -> 5.0, 4 -> 6.0)).df))
    val ref = TickStream(
      curveOf("a", Seq(1 -> 10.0)).df.unionByName(curveOf("b", Seq(2 -> 20.0)).df))
    val snapped = Dynamic.snap(trigger, ref, "s0").df.collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("seq")) -> r.getAs[Double]("s0")).toMap
    assert(snapped(("a", 0L)) == 10.0 && snapped(("a", 1L)) == 10.0)
    assert(snapped(("b", 0L)) == 20.0 && snapped(("b", 1L)) == 20.0)
    val early = TickStream(curveOf("c", Seq(1 -> 1.0)).df)
    val er = Dynamic.snap(early, TickStream(curveOf("c", Seq(2 -> 9.0)).df), "s0")
      .df.collect()
    assert(er.length == 1 && er(0).isNullAt(er(0).fieldIndex("s0")))
    // attach is the keyed identity
    assert(Dynamic.attach(trigger).df.collect().length == 4)
  }

  test("law: dense rank-test arms == bounded arms on seeded random shapes") {
    import org.apache.spark.sql.functions._
    import graft.operators.RankTests
    import spark.implicits._
    val r = new scala.util.Random(7)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSeq
    (1 to 5).foreach { trial =>
      // mixed shapes per trial: varying size, tie rate, group balance
      val n = 200 + r.nextInt(800)
      val tieDomain = 1 + r.nextInt(if (trial % 2 == 0) 10 else 5000)
      val df = (0 until n).map { i =>
        val g = if (r.nextInt(100) < 20 + r.nextInt(60)) "A" else "B"
        val v = r.nextInt(tieDomain).toDouble + (if (trial % 3 == 0) 0.5 else 0.0)
        (g, v, if (g == "A") 1 else 0, i.toLong)
      }.toDF("g", "v", "y", "ord")
      assert(rows(RankTests.mannWhitney(df, "g", "v", "A", "B", dense = true)) ==
        rows(RankTests.mannWhitney(df, "g", "v", "A", "B")), s"mw trial $trial")
      assert(rows(RankTests.ksTest(df, "g", "v", "A", "B", dense = true)) ==
        rows(RankTests.ksTest(df, "g", "v", "A", "B")), s"ks trial $trial")
      assert(rows(RankTests.auc(df, "y", "v", dense = true)) ==
        rows(RankTests.auc(df, "y", "v")), s"auc trial $trial")
      assert(rows(RankTests.spearman(df, "v", "y", dense = true)) ==
        rows(RankTests.spearman(df, "v", "y")), s"sp trial $trial")
      graft.util.Caching.release()
    }
  }

  test("law: kendallTau continuous arm == quadratic arm on seeded random shapes") {
    import org.apache.spark.sql.functions._
    import graft.operators.RankTests
    import spark.implicits._
    val r = new scala.util.Random(29)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSeq
    (1 to 5).foreach { trial =>
      // per-trial shape mix: fully continuous, tie-heavy on one axis,
      // anti-correlated, null-bearing; tiny bucket counts so every
      // decomposition class (far/sameX/sameY) carries real pairs
      val n = 300 + r.nextInt(900)
      val xDom = if (trial % 2 == 0) 12 else 1000000 // duplicate-heavy x vs continuous
      val base = (0 until n).map { i =>
        val x = r.nextInt(xDom).toDouble
        val y = (if (trial % 3 == 0) -x else x) * 0.3 + r.nextDouble() * xDom * 0.2
        (x, y, i.toLong)
      }.toDF("x", "y", "ord")
      val df = if (trial % 2 == 1)
        base.withColumn("y", when(col("ord") % 17 === 0, lit(null)).otherwise(col("y")))
      else base
      val bounded = rows(RankTests.kendallTau(df, "x", "y", maxCells = 1L << 40))
      val routed = rows(RankTests.kendallTau(df, "x", "y",
        maxCells = 1, buckets = 2 + r.nextInt(30)))
      assert(routed == bounded, s"kendall trial $trial")
      graft.util.Caching.release()
    }
  }

  test("law: orderStatistics == brute-force sort on seeded random shapes") {
    import org.apache.spark.sql.functions._
    import graft.operators.Selection
    import spark.implicits._
    val r = new scala.util.Random(13)
    (1 to 4).foreach { trial =>
      val n = 500 + r.nextInt(3000)
      val tieDomain = 1 + r.nextInt(if (trial % 2 == 0) 7 else 100000)
      val data = (0 until n).map(i => (r.nextInt(tieDomain).toDouble, i.toLong))
      val df = data.toDF("v", "ord")
      val ranks = Seq(1L, 1L + r.nextInt(n).toLong, n.toLong).distinct
      // refinement engine pinned (local sessions would auto-route past it)
      val got = Selection.orderStatistics(df, "ord",
        Seq(Selection.Dim("v", desc = trial % 2 == 0, ranks)), n,
        sampleTarget = 200, roundSample = 256, collectCap = 64,
        localRankArm = false)
      // r16 local-regime auto-pick (rank arm here): identical tuples
      val auto = Selection.orderStatistics(df, "ord",
        Seq(Selection.Dim("v", desc = trial % 2 == 0, ranks)), n,
        sampleTarget = 200, roundSample = 256, collectCap = 64)
      val sorted =
        if (trial % 2 == 0) data.sortBy { case (v, o) => (-v, o) }
        else data.sorted
      ranks.foreach { rk =>
        val want = Selection.Boundary(sorted(rk.toInt - 1)._1, sorted(rk.toInt - 1)._2)
        assert(got(0)(rk) == want, s"trial $trial rank $rk")
        assert(auto(0)(rk) == want, s"auto trial $trial rank $rk")
      }
      graft.util.Caching.release()
    }
  }
}
