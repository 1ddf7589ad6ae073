package graft

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StateOperatorProgress, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{StreamingDedup, StreamingSimilarity}

/** The shared fold runtime writes state only when a twin's state changes.
  * Spark's state variables count every update and every removal
  * (`numUpdatedStateRows`, `numRemovedStateRows`), and each micro-batch's
  * progress reports them as `numRowsUpdated` and `numRowsRemoved`. */
class StateWriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Feed `batches` one micro-batch each and return each batch's state
    * operator progress, in batch order. */
  private def stateProgress[I: Encoder](batches: Seq[Seq[I]])(
      twin: Dataset[I] => Dataset[_]): Seq[StateOperatorProgress] = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[I]
    val q = twin(mem.toDS()).writeStream.outputMode("append").format("noop")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val byBatch = q.recentProgress.map(p => p.batchId -> p).toMap
      batches.indices.map { i =>
        val ops = byBatch(i.toLong).stateOperators
        assert(ops.length == 1, s"batch $i: ${ops.length} state operators")
        ops.head
      }
    } finally q.stop()
  }

  test("a top-k twin writes no state: no update and no removal on any batch") {
    implicit val qEnc = Encoders.product[SsQuery]
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val corpus = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val enc = graft.llm.Sq.encode(corpus, "vec_id", "embedding")
    val queries = (0L until 9L).map(i => SsQuery(1000L + i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val progress = stateProgress(queries.grouped(3).toSeq)(
      ds => StreamingSimilarity.sq8TopK(ds.toDF(), enc, 4))
    graft.util.Caching.release()
    progress.zipWithIndex.foreach { case (p, i) =>
      assert(p.numRowsUpdated == 0 && p.numRowsRemoved == 0,
        s"batch $i: ${p.numRowsUpdated} updated, ${p.numRowsRemoved} removed")
    }
  }

  test("exactFlags writes one state row per new fingerprint, none for a known one") {
    implicit val docEnc = Encoders.product[SdDoc]
    // 8 distinct texts over 24 docs in id order: batches 2 and 3 repeat
    // fingerprints that batch 1 (or 2) already stored
    val docs = (0L until 24L).map(i => SdDoc(i, s"document ${(i * 5) % 8} of the feed"))
    val batches = Seq(docs.take(6), docs.slice(6, 15), docs.drop(15))
    val newFps = batches.indices.map { i =>
      (batches(i).map(_.text).toSet -- batches.take(i).flatten.map(_.text)).size
    }
    assert(batches.indices.drop(1).forall(i => newFps(i) < batches(i).map(_.text).distinct.size),
      "every later batch must repeat a fingerprint from an earlier one")
    val progress = stateProgress(batches)(
      ds => StreamingDedup.exactFlags(ds.toDF(), "text", "docId"))
    assert(progress.map(_.numRowsUpdated) == newFps)
    assert(progress.forall(_.numRowsRemoved == 0))
  }
}
