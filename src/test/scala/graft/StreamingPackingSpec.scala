package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Packing, StreamingPacking}

/** Fixture doc for the packing stream (top-level for the encoder). */
case class SpDoc(doc_id: Long, text: String)

/** Online packing == batch packing: [[StreamingPacking.packStream]] fed
  * the corpus as micro-batches in id order must reproduce the batch
  * [[Packing.packSequences]] bin assignment bit-for-bit — the next-fit
  * recurrence is order-deterministic, so the only degree of freedom is
  * arrival order, which the replay pins. Cross-batch state (a bin left
  * open at a micro-batch boundary) is the point under test: the replay is
  * cut at seeded boundaries and killed and resumed twice, so open bins
  * straddle batches and restarts. */
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
    import spark.implicits._

    val batchDf = spark.createDataset(corpus).toDF()
    val batch = Packing.packSequences(batchDf, "doc_id", "text", maxTokens = 16, streams = 4)
      .collect().map(p => p.getLong(0) -> (p.getInt(1), p.getInt(2), p.getLong(3), p.getBoolean(4))).toMap

    val stream = RestartParity.run(corpus, seed = 30, batches = 10)(
        ds => StreamingPacking.packStream(ds.toDF(), "doc_id", "text", maxTokens = 16, streams = 4))
      .map(p => p.doc_id -> (p.n_tok, p.stream, p.bin, p.oversize)).toMap

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
}
