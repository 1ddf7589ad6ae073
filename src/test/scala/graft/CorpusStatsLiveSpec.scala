package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

case class LiveDoc(doc_id: Long, lang: String, text: String, ts: Timestamp)

/** CorpusStatsLive's per-key mergeable partials, run as a `complete`-mode
  * streaming aggregation, must replay one batch aggregate bit-for-bit on
  * the exact columns and keep the HLL estimate within the sketch's
  * error — across micro-batches, and across a kill with a replayed
  * batch, where the query checkpoint is the only carry-over. */
class CorpusStatsLiveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
        col("doc_id") * lit(1000000L)))

  /** The INDEPENDENT batch expression of the snapshot's exact columns
    * (docs/total_tokens/total_chars/last_micros) per language. */
  private def batchExact(df: DataFrame): Vector[Vector[Any]] =
    df.groupBy(col("lang")).agg(
        count(lit(1)).as("docs"),
        sum(graft.llm.TextAnalysis.tokenCount(col("text"))).cast("long")
          .as("total_tokens"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        max(unix_micros(col("ts"))).as("last_micros"))
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString).toVector

  private def snapExact(live: graft.llm.CorpusStatsLive): Vector[Vector[Any]] =
    live.snapshot.select("lang", "docs", "total_tokens", "total_chars",
        "last_micros")
      .collect().map(_.toSeq.toVector).sortBy(_.head.toString).toVector

  /** HLL distinct within the sketch's error of the exact distinct count. */
  private def assertHll(live: graft.llm.CorpusStatsLive, d: DataFrame): Unit = {
    val exactFp = d.groupBy(col("lang"))
      .agg(countDistinct(graft.llm.TextAnalysis.fingerprint(col("text")))
        .as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // lgConfigK=12 → relative std error ~1.04/√4096 ≈ 1.6%; check 3σ
    live.snapshot.select("lang", "distinct_fps", "docs", "dup_rate_est")
      .collect().foreach { r =>
        val exact = exactFp(r.getString(0)).toDouble
        val est = r.getLong(1).toDouble
        assert(math.abs(est - exact) <= math.max(3.0, 0.05 * exact),
          s"lang ${r.getString(0)}: HLL estimate $est vs exact $exact")
        val dup = r.getDouble(3)
        assert(dup >= 0.0 && dup <= 1.0, s"dup_rate_est $dup out of [0,1]")
      }
  }

  private def liveDocs(d: DataFrame): Seq[LiveDoc] = {
    import spark.implicits._
    d.select("doc_id", "lang", "text", "ts").as[LiveDoc].collect().sortBy(_.doc_id).toSeq
  }

  test("in-memory arm: merged per-key aggregates == one batch aggregate; " +
    "HLL distinct within the sketch's error of exact") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val d = docs
    val expected = batchExact(d)
    val rows = liveDocs(d)

    val live = new graft.llm.CorpusStatsLive("lang", "text", "ts")
    val mem = MemoryStream[LiveDoc]
    val ckpt = java.nio.file.Files.createTempDirectory("corpus_live").toFile
    val q = live.partials(mem.toDF()).writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch(live.foreachBatch _)
      .trigger(Trigger.ProcessingTime(0)).start()
    // three micro-batches by doc_id ranges (disjoint cover)
    val n = rows.size
    try Seq(0 -> n / 3, n / 3 -> 2 * n / 3, 2 * n / 3 -> n).foreach { case (lo, hi) =>
      mem.addData(rows.slice(lo, hi): _*); q.processAllAvailable()
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    }
    assert(snapExact(live) == expected,
      "exact columns must replay the one-shot batch aggregate bit-for-bit")
    assertHll(live, d)
  }

  test("restart parity: complete-mode partials killed, replayed and resumed == " +
    "one batch aggregate; HLL within the sketch's error") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val d = docs
    val expected = batchExact(d)
    val live = new graft.llm.CorpusStatsLive("lang", "text", "ts")
    val out = RestartParity.run(liveDocs(d), seed = 81, outputMode = "complete")(
      ds => live.partials(ds.toDF()))
    // the last complete table holds every key: publish it through the sink
    val last = RestartParity.lastPer(out)(_.getString(0)).values.toList
    live.foreachBatch(spark.createDataFrame(last.asJava, out.head.schema), 0L)
    assert(snapExact(live) == expected,
      "partials carried through a kill and a replayed batch must replay the " +
        "one-shot batch aggregate bit-for-bit")
    assertHll(live, d)
  }
}
