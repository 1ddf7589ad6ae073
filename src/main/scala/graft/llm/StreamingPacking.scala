package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.streaming.TwsOps

/** Online sequence packing: the streaming twin of
  * [[Packing.packSequences]] — documents ARRIVE (ingest feed) and are
  * assigned to fixed token-budget bins incrementally, so a training-data
  * pipeline can emit packed context windows while the crawl is still
  * running instead of waiting for an offline pass.
  *
  * Same NEXT-FIT recurrence, same O(1) per-stream state (open bin
  * ordinal + fill), carried in a `TwsOps` fold's state keyed by the packing
  * stream (doc_id mod streams — the parallelism axis, exactly the batch
  * partition key). Within a micro-batch the group's rows are packed in
  * doc_id order (the batch scan order); ACROSS batches the order is
  * arrival order — replaying a corpus in id order therefore reproduces
  * the batch assignment bit-for-bit regardless of how the replay is
  * chopped into micro-batches (StreamingPackingSpec asserts equality
  * under a 7-row chop).
  *
  * 100 TB shape: state is 12 bytes per stream, the shuffle is the same
  * single keyed exchange the batch repartition pays, and bins complete
  * monotonically — downstream can consume a bin as soon as a row for the
  * next one appears.
  */
object StreamingPacking {

  private[llm] case class DocTok(doc_id: Long, n_tok: Int, stream: Int)
  private[llm] case class BinFill(bin: Long, used: Int)

  /** Next-fit fold per stream; the state is (open bin, tokens used).
    * Mirrors the batch fold in Packing.packSequences line for line. */
  private def nextFit(maxTokens: Int)(stream: Int, docs: Iterator[DocTok],
      prev: Option[BinFill]): (Option[BinFill], Iterator[Packing.Packed]) = {
    var st = prev.getOrElse(BinFill(0L, 0))
    val out = docs.toSeq.sortBy(_.doc_id).map { d =>
      val fits = st.used > 0 && st.used + d.n_tok <= maxTokens
      st =
        if (fits) BinFill(st.bin, st.used + d.n_tok)
        else BinFill(if (st.used > 0) st.bin + 1 else st.bin, d.n_tok)
      Packing.Packed(d.doc_id, d.n_tok, stream, st.bin, d.n_tok > maxTokens)
    }
    (Some(st), out.iterator)
  }

  /** Pack a streaming frame of documents. Column contract and defaults
    * match [[Packing.packSequences]]; token counting is the same
    * codegen'd [[TextAnalysis.tokenCount]] projection (the stateless
    * part stays in Catalyst, only the 12-byte recurrence lives in
    * state). */
  def packStream(docs: DataFrame, idCol: String, textCol: String,
                 maxTokens: Int, streams: Int = 64): Dataset[Packing.Packed] = {
    require(maxTokens >= 1 && streams >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    implicit val outEnc = Encoders.product[Packing.Packed]
    implicit val stEnc = Encoders.product[BinFill]
    val toks = docs.select(
        col(idCol).cast(LongType).as("doc_id"),
        TextAnalysis.tokenCount(col(textCol)).as("n_tok"),
        (col(idCol) % streams).cast(IntegerType).as("stream"))
      .as[DocTok]
    TwsOps.foldByKey(toks, (_: DocTok).stream, OutputMode.Append())(nextFit(maxTokens))
  }
}
