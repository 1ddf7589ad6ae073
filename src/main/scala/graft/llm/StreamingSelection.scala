package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import scala.collection.mutable

import graft.streaming.TwsOps

/** Online twins of the data-selection operators:
  *
  *  - [[semDedupOnline]] — arrival-time semantic dedup serving. Keyed by
  *    IVF cell, per-cell state = the kept representatives; an arriving
  *    vector is admitted iff no kept cell-mate is within `tau`. This is
  *    EXACTLY the batch [[SemDedup.semDedupGreedy]] recurrence (the
  *    kept-chain rule — the one an online system can implement without
  *    retraction), so full replay in id order reproduces the batch flags
  *    bit-for-bit (StreamingSelectionSpec asserts it).
  *  - [[editPairsOnline]] — arrival-time edit-distance near-dup, the
  *    twin of [[EditDedup.verifiedPairs]]: same banded-MinHash bucket
  *    geometry, members carry text + codepoint histogram so the L1
  *    prune runs before any DP; full replay ≡ the batch pair set.
  *  - [[Dsir.frozenHashedScorer]] / [[NaiveBayes.frozenHashedTagger]] —
  *    stateless once fitted; pure projections that run unchanged on a
  *    stream (specs pin stream ≡ batch for both).
  *
  * State shape at scale: kept-rep lists are bounded by the dedup rate,
  * not the arrival rate (every stored vector is pairwise < tau to its
  * cell-mates — an ε-net of the cell, the same bound the batch survivor
  * set carries); cells are the shuffle key, so the only Exchange is the
  * keyed state routing.
  */
object StreamingSelection {

  /** Input row after cell assignment (top-level for the encoder). */
  private[llm] case class CellVec(cell: Int, vecId: Long, v: Seq[Double])

  /** Output: arrival-time keep/drop flag per vector. */
  case class SemFlag(vecId: Long, cell: Int, kept: Boolean)

  /** Per-cell fold; the cell's kept representatives are append-only
    * state. */
  private def keptChain(tau: Double)(cell: Int, rows: Iterator[CellVec],
      reps: Iterator[CellVec]): (Iterable[CellVec], Iterator[SemFlag]) = {
    val kept = mutable.ArrayBuffer.from(reps.map(_.v.toArray))
    val fresh = mutable.ArrayBuffer.empty[CellVec]
    // within-batch determinism: process in id order (same order the
    // batch greedy recurrence scans)
    val out = rows.toSeq.sortBy(_.vecId).map { r =>
      val va = r.v.toArray
      val dup = kept.exists(u => SemDedup.cosLocal(u, va) >= tau)
      if (!dup) { kept += va; fresh += r }
      SemFlag(r.vecId, r.cell, !dup)
    }
    (fresh, out.iterator)
  }

  /** Arrival-time SemDeDup over a vector stream: assigns each arriving
    * vector to its cell (shuffle-free projection against the prebuilt
    * `centroids`), routes by cell, and admits it iff no kept cell-mate
    * is within `tau`. Emits one [[SemFlag]] per arrival. */
  def semDedupOnline(vecs: DataFrame, centroids: DataFrame, tau: Double,
                     id: String = "vec_id", vec: String = "embedding"): Dataset[SemFlag] = {
    implicit val inEnc = Encoders.product[CellVec]
    implicit val outEnc = Encoders.product[SemFlag]
    implicit val keyEnc = Encoders.scalaInt
    val cells = vecs.select(Ivf.cellColumn(centroids, col(vec)).as("cell"),
        col(id).cast("long").as("vecId"),
        col(vec).cast("array<double>").as("v"))
      .as[CellVec]
    TwsOps.appendByKey(cells, (_: CellVec).cell)(keptChain(tau))
  }

  // ---- online edit-distance near-dup (twin of EditDedup.verifiedPairs) ----

  private[llm] case class EditBandDoc(bandKey: String, band: Int, docId: Long,
                                      sig: Array[Long], text: String)
  private[llm] case class EditMember(docId: Long, sig: Array[Long],
                                     text: String, hist: Array[Int])
  /** Emitted edit-near pair, schema-matching [[EditDedup.verifiedPairs]]. */
  case class EditPair(id1: Long, id2: Long, dist: Int, sim: Double)

  /** Per-bucket fold; the bucket's members are append-only state and
    * carry text + codepoint histogram. An arriving doc is pruned by the
    * L1 bound (lev ≥ L1/2) before the banded-DP verify — the same
    * two-stage verification as batch. Cross-band duplicate pairs are
    * suppressed by the first-matching-band rule (the batch twin's
    * `.distinct()`). */
  private def editBucket(maxDist: Int, numHashes: Int, bands: Int, maxBucketSize: Int)(
      key: String, docs: Iterator[EditBandDoc],
      stored: Iterator[EditMember]): (Iterable[EditMember], Iterator[EditPair]) = {
    val rows = numHashes / bands
    val arriving = docs.toSeq.sortBy(_.docId)
    val thisBand = arriving.head.band
    val buf = mutable.ArrayBuffer.from(stored)
    val kept = buf.length
    val out = mutable.ArrayBuffer.empty[EditPair]
    arriving.foreach { d =>
      // at cap: bucket closed without storing OR comparing — the online
      // capBuckets rule, same as the batch twin's capped candidate set
      // and StreamingDedup's bucket fold
      if (buf.length < maxBucketSize) {
        val hist = graft.functions.TextKernels.charHist(d.text)
        val dLen = d.text.codePointCount(0, d.text.length)
        buf.foreach { m =>
          val mLen = m.text.codePointCount(0, m.text.length)
          if (m.docId != d.docId &&
              math.abs(mLen - dLen) <= maxDist &&
              graft.functions.TextKernels.histL1(m.hist, hist) <= 2 * maxDist &&
              StreamingDedup.firstMatchingBand(m.sig, d.sig, rows, bands) == thisBand) {
            // codepoint DP + codepoint lengths — the same units as the
            // batch twin's Spark levenshtein/length, so replay equality
            // holds beyond ASCII (BMP and supplementary alike)
            val dist = levenshteinBounded(m.text, d.text, maxDist)
            if (dist >= 0) {
              val lmax = math.max(mLen, dLen)
              val sim = if (lmax == 0) 1.0
                else BigDecimal(1.0 - dist.toDouble / lmax)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              out += EditPair(math.min(m.docId, d.docId),
                math.max(m.docId, d.docId), dist, sim)
            }
          }
        }
        buf += EditMember(d.docId, d.sig, d.text, hist)
      }
    }
    (buf.view.drop(kept), out.iterator)
  }

  /** Online edit-distance near-dup pairs over a live feed — the
    * arrival-time twin of [[EditDedup.verifiedPairs]]: same MinHash/LSH
    * bucket geometry, same length/histogram prunes, same thresholded
    * levenshtein; full replay reproduces the batch pair set (spec). */
  def editPairsOnline(docs: DataFrame, textCol: String, idCol: String,
                      maxDist: Int, numHashes: Int = 32, bands: Int = 16,
                      shingleN: Int = 2, maxBucketSize: Int = 1000): Dataset[EditPair] = {
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
    val rows = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    implicit val bdEnc = Encoders.product[EditBandDoc]
    implicit val memberEnc = Encoders.product[EditMember]
    implicit val outEnc = Encoders.product[EditPair]
    val sigs = docs.select(col(idCol).cast("long").as("docId"),
        graft.functions.VectorExprs.minhashSig(
          Shingles.hashedShingles(col(textCol), shingleN), numHashes).as("sig"),
        col(textCol).as("text"))
      .as[(Long, Array[Long], String)]
    val banded = sigs.flatMap { case (id, sig, text) =>
      (0 until bands).map(b => EditBandDoc(StreamingDedup.bandKey(sig, b, rows), b, id, sig, text))
    }
    TwsOps.appendByKey(banded, (_: EditBandDoc).bandKey)(
      editBucket(maxDist, numHashes, bands, maxBucketSize))
  }

  /** Levenshtein with early-out threshold: −1 when distance > d (the
    * same contract as Spark's 3-arg levenshtein the batch twin uses).
    * Runs over CODE POINTS, matching Spark's unit, so the streaming twin
    * agrees with the batch one on any input — not just ASCII. */
  private[llm] def levenshteinBounded(as: String, bs: String, d: Int): Int = {
    val a = as.codePoints().toArray
    val b = bs.codePoints().toArray
    if (math.abs(a.length - b.length) > d) return -1
    val prev = Array.tabulate(b.length + 1)(identity)
    val cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var rowMin = cur(0)
      var j = 1
      while (j <= b.length) {
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (rowMin > d) return -1
      Array.copy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    if (prev(b.length) <= d) prev(b.length) else -1
  }
}
