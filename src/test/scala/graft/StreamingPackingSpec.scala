package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Packing, StreamingPacking}

/** Fixture doc for the packing stream (top-level for the encoder). */
case class SpDoc(doc_id: Long, text: String)

/** Online packing == batch packing: [[StreamingPacking.packStream]] fed
  * the corpus as micro-batches in id order must reproduce the batch
  * [[Packing.packSequences]] bin assignment bit-for-bit — the next-fit
  * recurrence is order-deterministic, so the only degree of freedom is
  * arrival order, which the replay pins. Cross-batch state (a bin left
  * open at a micro-batch boundary) is the point under test: the chop
  * size is coprime to the stream count so bins straddle batches. */
class StreamingPackingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val corpus: Seq[SpDoc] = {
    val rnd = new scala.util.Random(101L)
    (0L until 90L).map { i =>
      // 1..14 words → n_tok spread crosses the budget repeatedly
      SpDoc(i, Seq.fill(1 + rnd.nextInt(14))("tok").mkString(" "))
    } :+ SpDoc(90L, Seq.fill(25)("tok").mkString(" ")) // oversize doc
  }

  test("streaming packStream == batch packSequences under micro-batch chop") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[SpDoc]
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val batchDf = spark.createDataset(corpus).toDF()
    val batch = Packing.packSequences(batchDf, "doc_id", "text", maxTokens = 16, streams = 4)
      .collect().map(p => p.getLong(0) -> (p.getInt(1), p.getInt(2), p.getLong(3), p.getBoolean(4))).toMap

    val mem = MemoryStream[SpDoc]
    val q = StreamingPacking.packStream(mem.toDF(), "doc_id", "text", maxTokens = 16, streams = 4)
      .writeStream.outputMode("append").format("memory").queryName("sp_pack")
      .trigger(Trigger.ProcessingTime(0)).start()
    // 7-row chop: coprime to 4 streams → open bins straddle batches
    corpus.grouped(7).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = spark.table("sp_pack").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3), r.getBoolean(4))).toMap
    q.stop()

    assert(stream.size == corpus.size && batch.size == corpus.size)
    assert(stream == batch, {
      val diff = batch.collect { case (id, b) if stream.get(id) != Some(b) =>
        s"$id: stream=${stream.get(id)} batch=$b" }
      s"${diff.size} mismatches: ${diff.take(5).mkString("; ")}"
    })
    // the oversize doc got a bin of its own, flagged
    val (nTok, _, bin, oversize) = stream(90L)
    assert(nTok == 25 && oversize)
    assert(!stream.exists { case (id, (_, s, b, _)) => id != 90L &&
      s == stream(90L)._2 && b == bin })
  }

  test("open-bin state survives kill + checkpoint recovery") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[SpDoc]
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val batchDf = spark.createDataset(corpus).toDF()
    val batch = Packing.packSequences(batchDf, "doc_id", "text", maxTokens = 16, streams = 4)
      .collect().map(p => p.getLong(0) -> (p.getLong(3), p.getInt(2))).toMap

    val ckpt = java.nio.file.Files.createTempDirectory("sp_pack_ckpt").toString
    val sink = scala.collection.mutable.Map.empty[Long, (Long, Int)]
    val mem = MemoryStream[SpDoc]
    def start() =
      StreamingPacking.packStream(mem.toDF(), "doc_id", "text", maxTokens = 16, streams = 4)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Packing.Packed], _: Long) =>
          val rows = b.collect().map(p => p.doc_id -> (p.bin, p.stream))
          sink.synchronized { sink ++= rows }; ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()

    // split mid-corpus: every stream has a bin open at the crash point
    val (firstHalf, secondHalf) = corpus.splitAt(41)
    val q1 = start()
    mem.addData(firstHalf: _*)
    q1.processAllAvailable()
    q1.stop() // crash with open bins in RocksDB

    mem.addData(secondHalf: _*)
    val q2 = start()
    q2.processAllAvailable()
    val recovered = sink.synchronized(sink.toMap)
    q2.stop()

    assert(recovered.size == corpus.size)
    corpus.foreach { d =>
      assert(recovered(d.doc_id) == batch(d.doc_id),
        s"doc ${d.doc_id}: recovered ${recovered(d.doc_id)} vs batch ${batch(d.doc_id)}")
    }
  }
}
