package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{Steps, TickRow}
import graft.streaming.TwsOps
import graft.ts.Sources

/** Streaming checkpoints on graft's settings (`GraftSession.builder`):
  * the fork-free local manager and RocksDB changelog commits stay on, and
  * checkpoints cross between them and Spark's defaults in both directions. */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  implicit val tickEnc: Encoder[TickRow] = Encoders.product[TickRow]

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val changelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  private def files(dir: File): Seq[File] = FileUtils.listFiles(dir, null, true).asScala.toSeq

  /** A sibling that Hadoop's checksummed local filesystem writes beside
    * each file it creates (`.<name>.crc`). `SSTs/` is left out: RocksDB's
    * background snapshot uploads still copy SST files through Hadoop's
    * `FileSystem`, off the per-batch path. Spark's own state-file
    * checksums (`<name>.crc`) are not hidden. */
  private def hadoopCrc(f: File): Boolean =
    f.getName.startsWith(".") && f.getName.endsWith(".crc") && f.getParentFile.getName != "SSTs"

  /** Spark's defaults: Hadoop's FileContext manager, changelog off. */
  private def sparkDefaults(): Unit = {
    spark.conf.unset(managerKey)
    spark.conf.set(changelogKey, "false")
  }

  /** The session is built by `GraftSession.builder`, so these are graft's. */
  private lazy val graftConf = Seq(managerKey, changelogKey).map(k => k -> spark.conf.get(k))
  private def graftSettings(): Unit = graftConf.foreach { case (k, v) => spark.conf.set(k, v) }

  private def withGraftConfRestored[A](body: => A): A = {
    graftConf
    try body finally graftSettings()
  }

  /** Kahan running sum over the sf0.001 ticks, killed after its third
    * batch; `whileDown` checks the checkpoint and changes the settings
    * before the restart. The answer must stay bit-equal to the batch arm. */
  private def crossRestart(seed: Long)(whileDown: File => Unit): Unit = {
    val ev = Sources.events(spark, TestSpark.sf)
    val batch = graft.operators.Sequential.kahanCumsum(ev).df
      .select("key", "seq", "ksum").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ticks = StatefulOps.toTickRows(ev).collect().toSeq.sortBy(r => (r.tsMicros, r.seq))
    val out = RestartParity.run(ticks, seed, killAt = Set(2), onRestart = whileDown)(
      StatefulOps.scanStream(_, Steps.kahan)).map(o => (o.key, o.seq) -> o.value).toMap
    assert(out.size == batch.size, s"stream ${out.size} rows vs batch ${batch.size}")
    out.foreach { case (k, v) => assert(v == batch(k), s"$k: stream $v vs batch ${batch(k)}") }
  }

  test("a checkpoint written on Spark's defaults resumes on graft's settings, bit-equal to batch") {
    withGraftConfRestored {
      sparkDefaults()
      crossRestart(seed = 61) { ckpt =>
        val fs = files(ckpt)
        assert(fs.exists(hadoopCrc), "the first run did not use Hadoop's checksummed filesystem")
        assert(fs.exists(_.getName.endsWith(".zip")), "the first run did not write RocksDB snapshots")
        assert(!fs.exists(_.getName.endsWith(".changelog")))
        graftSettings()
      }
    }
  }

  test("a checkpoint written on graft's settings resumes on Spark's defaults, bit-equal to batch") {
    withGraftConfRestored {
      crossRestart(seed = 62) { ckpt =>
        val fs = files(ckpt)
        assert(!fs.exists(hadoopCrc), fs.filter(hadoopCrc).mkString(", "))
        assert(fs.exists(_.getName.endsWith(".changelog")), "the first run did not write changelogs")
        sparkDefaults()
      }
    }
  }

  test("fast path stays on: no Hadoop .crc sibling, changelog commits, no per-batch snapshot zip") {
    // fails if GraftSession.builder loses either setting, or if a Spark
    // upgrade stops reading the checkpoint manager key
    implicit val sq = spark.sqlContext
    val ticks = StatefulOps.toTickRows(Sources.events(spark, TestSpark.sf))
      .collect().toSeq.sortBy(r => (r.tsMicros, r.seq))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fastpath").toFile
    val mem = MemoryStream[TickRow]
    val q = TwsOps.emaTws(mem.toDS(), 0.4).writeStream.outputMode("append")
      .format("noop").option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ticks.grouped(ticks.size / 5 + 1).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      // a query's first commit uploads its initial snapshot; the batches
      // after it are the measured ones
      val measured = q.recentProgress.filter(p => p.numInputRows > 0 && p.stateOperators.nonEmpty).drop(1)
      assert(measured.length >= 3)
      measured.foreach { p =>
        val m = p.stateOperators.head.customMetrics
        assert(m.containsKey("rocksdbChangeLogWriterCommitLatencyMs"), m.keySet)
        assert(m.get("rocksdbSaveZipFilesLatencyMs") == 0L, s"batch ${p.batchId} zipped a snapshot")
      }
      val fs = files(ckpt)
      assert(fs.exists(_.getName.endsWith(".changelog")))
      assert(!fs.exists(hadoopCrc), fs.filter(hadoopCrc).mkString(", "))
    } finally {
      q.stop()
      FileUtils.deleteQuietly(ckpt)
    }
  }
}
