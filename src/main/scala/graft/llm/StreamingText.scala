package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import scala.collection.mutable

import graft.streaming.TwsOps

/** Online twins of the round-10 text operators whose batch forms are
  * stateful: heavy-hitter tracking ([[HeavyHitters]]) and line-level
  * boilerplate detection ([[LineDedup]]). (The stateless ones —
  * [[Relevance.frozenScorer]], [[Chunking.chunkByTokens]], frozen-model
  * [[NgramLm.score]] — run unchanged on a stream; StreamingRelevanceSpec
  * pins those.)
  *
  * Both are plain folds on the one streaming runtime (`TwsOps`:
  * transformWithState, RocksDB, checkpoint-recoverable), each with one
  * bounded per-key state value that a batch rewrites at most once:
  *   - [[mgTopTerms]] shards the term space into `bands` keys, each
  *     holding a Misra–Gries summary of capacity `m` — total state
  *     `bands · m` entries regardless of vocabulary size. The summary set
  *     is a guaranteed superset of every term with per-band frequency
  *     > n_band/m, the same bound the batch [[HeavyHitters.mgCandidates]]
  *     carries per partition.
  *   - [[lineFlags]] keys by exact line content; state is the distinct-doc
  *     count saturated at `maxDocs + 1` plus (below saturation) the ids
  *     seen — O(maxDocs) per line. A line is flagged boilerplate at
  *     arrival time the moment its distinct-doc count exceeds `maxDocs`.
  *
  * Online-vs-batch contract (same one-sided honesty as
  * [[StreamingDedup]]): an online operator cannot retract — early
  * arrivals of a line that LATER turns out to be boilerplate were already
  * emitted as kept. The flag is monotone (once boilerplate, always), and
  * the set of lines EVER flagged equals the batch blocklist after full
  * replay — StreamingTextSpec asserts both.
  */
object StreamingText {

  // ---- heavy hitters: banded Misra–Gries ----

  private[llm] case class BandTerm(band: Int, term: String)

  /** A band's candidate snapshot row: `gen` counts that band's
    * micro-batch updates — per band, the max-gen rows are the CURRENT
    * summary. */
  case class MgSnap(band: Int, gen: Long, term: String, mgCount: Long)

  /** A band's Misra–Gries summary after `gen` micro-batch updates. */
  private[llm] case class MgSummary(gen: Long, counts: Map[String, Long])

  /** Per-band fold: the batch runs through an in-memory copy of the
    * summary, which is written back once. */
  private def misraGries(m: Int)(band: Int, rows: Iterator[BandTerm],
      prev: Option[MgSummary]): (Option[MgSummary], Iterator[MgSnap]) = {
    val counts = mutable.HashMap.from(prev.fold(Map.empty[String, Long])(_.counts))
    rows.foreach { r =>
      if (counts.contains(r.term)) counts(r.term) += 1L
      else if (counts.size < m) counts(r.term) = 1L
      else {
        val dead = mutable.ArrayBuffer.empty[String]
        counts.keysIterator.foreach { k =>
          val v = counts(k) - 1L
          if (v == 0L) dead += k else counts(k) = v
        }
        dead.foreach(counts.remove)
      }
    }
    val g = prev.fold(0L)(_.gen) + 1L
    (Some(MgSummary(g, counts.toMap)), counts.iterator.map { case (t, c) => MgSnap(band, g, t, c) })
  }

  /** Online Misra–Gries heavy-hitter tracking over an arriving text feed:
    * emits each touched band's full candidate snapshot per micro-batch
    * (latest `gen` per band wins — append-mode streams cannot retract).
    * Keyed shuffle only; state `bands · m` entries total. */
  def mgTopTerms(docs: DataFrame, textCol: String, m: Int = 256,
                 bands: Int = 16): Dataset[MgSnap] = {
    implicit val inEnc = Encoders.product[BandTerm]
    implicit val outEnc = Encoders.product[MgSnap]
    implicit val keyEnc = Encoders.scalaInt
    implicit val stEnc = Encoders.product[MgSummary]
    val terms = docs
      .select(explode(filter(split(col(textCol), " +"), t => t =!= lit(""))).as("term"))
      .select(pmod(hash(col("term")), lit(bands)).as("band"), col("term"))
      .as[BandTerm]
    TwsOps.foldByKey(terms, (_: BandTerm).band, OutputMode.Append())(misraGries(m))
  }

  // ---- line dedup: arrival-time boilerplate flags ----

  case class LineFlag(docId: Long, pos: Long, line: String, boilerplate: Boolean)

  private[llm] case class LineIn(line: String, docId: Long, pos: Long)

  /** Distinct doc ids seen, kept only below saturation; the count
    * saturates at maxDocs + 1 — state is O(maxDocs) per line regardless
    * of how often boilerplate repeats. */
  private[llm] case class LineSeen(saturated: Boolean, ids: Seq[Long])

  /** Per-line fold; a saturated line hands its state back untouched, so
    * repeats of known boilerplate write nothing. */
  private def lineSeen(maxDocs: Int)(line: String, rows: Iterator[LineIn],
      prev: Option[LineSeen]): (Option[LineSeen], Iterator[LineFlag]) = {
    val wasSaturated = prev.exists(_.saturated)
    var sat = wasSaturated
    val ids = mutable.LinkedHashSet.from(prev.fold(Seq.empty[Long])(_.ids))
    val out = rows.toSeq.sortBy(r => (r.docId, r.pos)).map { r =>
      if (!sat) {
        ids += r.docId
        if (ids.size > maxDocs) { sat = true }
      }
      LineFlag(r.docId, r.pos, r.line, sat)
    }
    val next = if (wasSaturated) prev else Some(LineSeen(sat, if (sat) Nil else ids.toSeq))
    (next, out.iterator)
  }

  /** Arrival-time line-level boilerplate flags: a line is `boilerplate`
    * once it has appeared in more than `maxDocs` DISTINCT documents.
    * Input columns (idCol: long, posCol: long, lineCol: string); output
    * one [[LineFlag]] per arriving line. Keyed by exact line content —
    * the same key the batch [[LineDedup.keptLines]] aggregates on. */
  def lineFlags(lines: DataFrame, idCol: String, posCol: String,
                lineCol: String, maxDocs: Int): Dataset[LineFlag] = {
    implicit val inEnc = Encoders.product[LineIn]
    implicit val outEnc = Encoders.product[LineFlag]
    implicit val keyEnc = Encoders.STRING
    implicit val stEnc = Encoders.product[LineSeen]
    val rows = lines.select(col(lineCol).as("line"), col(idCol).cast("long").as("docId"),
        col(posCol).cast("long").as("pos")).as[LineIn]
    TwsOps.foldByKey(rows, (_: LineIn).line, OutputMode.Append())(lineSeen(maxDocs))
  }
}
