package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.ts.{GraftSession, Sources}

object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      // RocksDB snapshots are uploaded by the state store's background
      // maintenance, every 60 s by default; a spec that waits for one
      // (TwsSpec's restart past the snapshot interval) waits seconds, not a
      // minute
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "2s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class SmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("events parquet (ns timestamps) loads as tick stream") {
    val ev = Sources.events(spark, TestSpark.sf)
    val n = ev.df.count()
    assert(n == 1000L)
    val row = ev.df.orderBy("seq").limit(1).collect()(0)
    assert(row.getAs[String]("key") == "13")
    assert(row.getAs[Long]("seq") == 0L)
    assert(row.getAs[java.sql.Timestamp]("ts").toString.startsWith("2024-01-01 00:09:58"))
  }

  test("curve + runningCount + accum golden") {
    val c = Sources.curve(spark, "k",
      Seq("2020-01-01 00:00:00" -> 1.0, "2020-01-02 00:00:00" -> 2.0, "2020-01-03 00:00:00" -> 3.0))
    val out = c.accum().runningCount().df.orderBy("ts").collect()
    assert(out.map(_.getAs[Double]("accum")).toSeq == Seq(1.0, 3.0, 6.0))
    assert(out.map(_.getAs[Long]("count")).toSeq == Seq(1L, 2L, 3L))
  }

  test("merge left-wins on engine-time tie (baselib.py:370-376)") {
    val l = Sources.curve(spark, "k", Seq("2020-01-01 00:00:00" -> 1.0, "2020-01-03 00:00:00" -> 3.0))
    val r = Sources.curve(spark, "k", Seq("2020-01-01 00:00:00" -> 100.0, "2020-01-02 00:00:00" -> 2.0))
    val out = l.merge(r).run().map(_._2)
    assert(out == Seq(1.0, 2.0, 3.0))
  }

  test("firstN / delayTicks / diff / dropDups") {
    val c = Sources.curve(spark, "k", (1 to 6).map(i => f"2020-01-0$i 00:00:00" -> Seq(1.0, 1.0, 2.0, 2.0, 3.0, 3.0)(i - 1)))
    assert(c.firstN(2).run().map(_._2) == Seq(1.0, 1.0))
    assert(c.dropDups().run().map(_._2) == Seq(1.0, 2.0, 3.0))
    assert(c.delayTicks(1).run().map(_._2) == Seq(1.0, 1.0, 2.0, 2.0, 3.0))
    assert(c.diff(1).df.filter("diff is not null").orderBy("ts").collect().map(_.getAs[Double]("diff")).toSeq
      == Seq(0.0, 1.0, 0.0, 1.0, 0.0))
  }

  test("unroll bursts list into separate cycles at same ts") {
    import spark.implicits._
    val df = Seq(("k", java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), 0L, Seq(1.0, 2.0, 3.0)))
      .toDF("key", "ts", "seq", "value")
    val out = graft.ts.TickStream(df).unroll.df.orderBy("seq").collect()
    assert(out.map(_.getAs[Double]("value")).toSeq == Seq(1.0, 2.0, 3.0))
    assert(out.map(_.getAs[Long]("seq")).toSeq == Seq(0L, 1L, 2L))
  }

  test("timer generates periodic ticks") {
    val t = Sources.timer(spark, "k", "2020-01-01 00:00:00", "2020-01-01 01:00:00", 600)
    assert(t.df.count() == 7)
  }

  test("defaultValue injects only when no earlier tick") {
    val c = Sources.curve(spark, "k", Seq("2020-01-02 00:00:00" -> 5.0))
    val out = c.defaultValue(0.0, "2020-01-01 00:00:00").run().map(_._2)
    assert(out == Seq(0.0, 5.0))
    val c2 = Sources.curve(spark, "k", Seq("2020-01-01 00:00:00" -> 5.0))
    assert(c2.defaultValue(0.0, "2020-01-01 00:00:00").run().map(_._2) == Seq(5.0))
  }
}
