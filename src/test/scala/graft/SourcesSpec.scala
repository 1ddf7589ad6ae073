package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.ts.Sources

/** Parquet sources are resolved once per session: a later build reuses
  * the resolved relation and starts no Spark job, a rewritten table is
  * resolved again, and no session sees another session's relation. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The benchmark's simulation-mode queries (perfbench `BatchWorkload.SimTs`). */
  private val simTs = Seq("q1_lineitem_agg", "q4_order_rank", "q_filter", "q_accum", "q_delay",
    "q_dropdups", "q_merge", "q_gate", "q_sample_asof", "q_feedback", "q_values_at_range",
    "q_stats_var", "q_stats_quantile", "q_ema", "q_cross_sectional", "q_window_session",
    "q_resample", "q_bars")

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    Bridge.drainListenerBus(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; Bridge.drainListenerBus(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  private def build(q: String): Unit =
    try SparkEntry.queries(q)(spark, TestSpark.sf) finally graft.util.Caching.release()

  private def withTempDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-sources")
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a second build of a simulation-mode query starts no Spark job") {
    simTs.foreach(build)
    val jobs = simTs.map(q => q -> jobsDuring(build(q))).filter(_._2 > 0)
    assert(jobs.isEmpty, s"jobs started by a second build: $jobs")
  }

  test("an unchanged table is the same relation; a rewritten one is resolved again") {
    import spark.implicits._
    withTempDir { dir =>
      val sf = dir.toString
      val t = s"$sf/t.parquet"
      Seq((1L, "x"), (2L, "y")).toDF("a", "b").write.parquet(t)
      val first = Sources.table(spark, sf, "t")
      assert(first.columns.toSeq == Seq("a", "b"))
      assert(Sources.table(spark, sf, "t") eq first)
      // Spark's overwrite: new file names, a new schema
      Seq((3L, 0.5)).toDF("a", "c").write.mode("overwrite").parquet(t)
      val second = Sources.table(spark, sf, "t")
      assert(second.columns.toSeq == Seq("a", "c"))
      assert(second.as[(Long, Double)].collect().toSeq == Seq((3L, 0.5)))
      // a file replaced in place under the same name: only its size and
      // mtime tell (its stale checksum sibling goes with the old bytes)
      Seq((4L, true, "z")).toDF("a", "d", "e").write.parquet(s"$sf/u.parquet")
      def dataFile(p: String): Path = {
        val s = Files.list(Paths.get(p))
        try s.filter(f => !f.getFileName.toString.startsWith(".") &&
          f.getFileName.toString.endsWith(".parquet")).findFirst().get() finally s.close()
      }
      val target = dataFile(t)
      Files.copy(dataFile(s"$sf/u.parquet"), target, StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
      Files.setLastModifiedTime(target,
        FileTime.fromMillis(Files.getLastModifiedTime(target).toMillis + 2000))
      val third = Sources.table(spark, sf, "t")
      assert(third.columns.toSeq == Seq("a", "d", "e"))
      assert(third.as[(Long, Boolean, String)].collect().toSeq == Seq((4L, true, "z")))
    }
  }

  test("a failed read leaves nothing behind, and a conf change resolves again") {
    import spark.implicits._
    withTempDir { dir =>
      val sf = dir.toString
      intercept[org.apache.spark.sql.AnalysisException](Sources.table(spark, sf, "late"))
      Seq(1L, 2L).toDF("a").write.parquet(s"$sf/late.parquet")
      val df = Sources.table(spark, sf, "late")
      assert(df.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      val key = "spark.sql.parquet.binaryAsString"
      val prev = spark.conf.get(key)
      try {
        spark.conf.set(key, (!prev.toBoolean).toString)
        assert(!(Sources.table(spark, sf, "late") eq df))
      } finally spark.conf.set(key, prev)
    }
  }

  test("a second session resolves its own relation") {
    val other: SparkSession = spark.newSession()
    val mine = Sources.table(spark, TestSpark.sf, "orders")
    val theirs = Sources.table(other, TestSpark.sf, "orders")
    assert(!(theirs eq mine))
    assert(theirs.sparkSession eq other)
    assert(mine.sparkSession eq spark)
    assert(Sources.table(other, TestSpark.sf, "orders") eq theirs)
    assert(Sources.table(spark, TestSpark.sf, "orders") eq mine)
  }
}
