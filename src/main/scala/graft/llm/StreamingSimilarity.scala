package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import scala.collection.mutable

import graft.streaming.TwsOps

/** Online ANN serving: top-k nearest neighbors for a LIVE stream of query
  * embeddings against a STATIC IVF-indexed corpus — the retrieval shape
  * of a production vector index (the index rests, queries arrive). The
  * streaming twin of [[Ivf.topK]]: identical probe geometry (nprobe
  * nearest cells per query, exact cosine within them, same tie-breaks),
  * re-expressed for micro-batch execution.
  *
  * Plan shape per micro-batch (the 1000-executor view):
  * - centroid probe: k centroids are driver-collected (k-bounded, same
  *   bound as batch `collectCentroids`) and scanned per query JVM-side —
  *   the batch form's crossJoin(broadcast(centroids)) + rank window,
  *   collapsed into a flatMap because append-mode streams forbid
  *   non-time windows;
  * - candidate generation: stream-static equi-join on `cell` — the
  *   corpus never broadcasts and never re-shuffles per batch (the cell
  *   assignment is the partition key, exactly the IVF contract: nprobe
  *   cells bound the scan);
  * - per-query top-k: a `TwsOps` fold that keeps NO state (every
  *   candidate of a query lives in the same micro-batch as the query row
  *   itself, so the grouped sort-take needs no cross-batch state — the
  *   fold is a per-batch grouped map, not an accumulator, and writes
  *   nothing to the state store).
  *
  * Cosines are computed by the same [[graft.functions.VectorExprs]]
  * kernel as batch; the JVM centroid probe replicates its exact
  * accumulation order on float-widened doubles, so stream == batch is
  * bit-equal (StreamingSimilaritySpec asserts map equality on cosines).
  */
object StreamingSimilarity {

  /** One ranked neighbor for an arriving query. */
  case class KnnHit(queryId: Long, neighborId: Long, rk: Int, cosine: Double)

  private[llm] case class Probe(queryId: Long, qv: Array[Double], cell: Int)
  private[llm] case class Cand(queryId: Long, neighborId: Long, cosine: Double)

  /** Bit-exact replica of the CosineSim kernel's accumulation
    * (index-order dot/na/nb, then dot / (√na · √nb)). */
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Stateless per-batch grouped top-k: `rank` orders one query's
    * candidates into hits, on a fold whose state is never set (its
    * `Boolean` type is a placeholder). */
  private def perQuery[C, H: Encoder](cands: Dataset[C], query: C => Long)(
      rank: Seq[C] => Seq[H]): Dataset[H] = {
    implicit val keyEnc = Encoders.scalaLong
    implicit val stEnc = Encoders.scalaBoolean
    TwsOps.foldByKey[Long, C, Boolean, H](cands, query, OutputMode.Append()) {
      (_, rows, _) => (None, rank(rows.toSeq).iterator)
    }
  }

  /** Top-k by cosine (batch tie-break: cosine desc, then neighbor id asc). */
  private def cosineTopK(cands: Dataset[Cand], k: Int): Dataset[KnnHit] = {
    implicit val outEnc = Encoders.product[KnnHit]
    perQuery(cands, (_: Cand).queryId)(
      _.sortBy(c => (-c.cosine, c.neighborId)).take(k).zipWithIndex
        .map { case (c, i) => KnnHit(c.queryId, c.neighborId, i + 1, c.cosine) })
  }

  /** Top-k neighbors per arriving query against `corpus` via `index`.
    * `queries` is a streaming DataFrame with the index's id/vec columns
    * (override with `id`/`vec`). The corpus-side joined table is
    * barrier-persisted so micro-batches re-probe, not re-build — release
    * with `graft.util.Caching.release()` when the query stops. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, index: Ivf.Index,
              k: Int, nprobe: Int = 4,
              id: String = null, vec: String = null): Dataset[KnnHit] = {
    val qid = Option(id).getOrElse(index.id)
    val qvec = Option(vec).getOrElse(index.vec)
    val spark = queries.sparkSession
    import spark.implicits._
    implicit val probeEnc = Encoders.product[Probe]
    implicit val candEnc = Encoders.product[Cand]

    // k-bounded driver collect — the same bound batch topK pays for its
    // broadcast(centroids); float→double widening is exact, so the JVM
    // probe sees the very values the batch expression computes on
    val cents: Array[(Int, Array[Double])] = index.centroids
      .select(col("cell"), col("centroid").cast(ArrayType(DoubleType)))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val bcCents = spark.sparkContext.broadcast(cents)

    val indexed = graft.util.Caching.barrier(
      corpus.select(col(index.id).as("neighborId"), col(index.vec).as("cv"))
        .join(index.cells.select(col(index.id).as("neighborId"), col("cell")), "neighborId"))

    val probes: Dataset[Probe] = queries
      .select(col(qid).cast("long").as("queryId"),
        col(qvec).cast(ArrayType(DoubleType)).as("qv"))
      .as[(Long, Array[Double])]
      .flatMap { case (qId, qv) =>
        // batch rank window semantics: sim desc, cell asc, top nprobe
        bcCents.value.iterator
          .map { case (cell, cv) => (cell, cosine(qv, cv)) }
          .toSeq.sortBy { case (cell, sim) => (-sim, cell) }
          .take(nprobe)
          .map { case (cell, _) => Probe(qId, qv, cell) }
      }

    cosineTopK(probes.toDF()
      .join(indexed, "cell")
      .filter(col("queryId") =!= col("neighborId"))
      .withColumn("cosine", graft.functions.VectorExprs.cosineSim(col("qv"), col("cv")))
      .select(col("queryId"), col("neighborId"), col("cosine"))
      .as[Cand], k)
  }

  // ---- online IVF-PQ serving (streaming twin of Pq.ivfAdcTopK) ----

  /** One ranked ADC neighbor for an arriving query. */
  case class AdcHit(queryId: Long, neighborId: Long, rk: Int, dist: Double)

  private[llm] case class PqProbe(queryId: Long, lut: Array[Array[Double]], cell: Int)
  private[llm] case class PqCand(queryId: Long, neighborId: Long, dist: Double)

  /** Bit-exact replica of Pq.subDist's Catalyst fold: lane-order double
    * accumulation of (a − c)², a float-widened. */
  private def subDistJvm(qv: Array[Double], s: Int, dsub: Int, cent: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < dsub) { val d = qv(s * dsub + i) - cent(i); acc += d * d; i += 1 }
    acc
  }

  /** ADC top-k for a LIVE stream of query embeddings against a static
    * [[Pq.IvfPqIndex]] — the streaming twin of [[Pq.ivfAdcTopK]], closing
    * the online-serving story for the compressed index (ivfTopK serves
    * the flat one). Same shape as [[ivfTopK]]:
    *  - centroid probe + per-query LUT computed JVM-side in a flatMap
    *    (k-bounded centroid collect, codebooks broadcast — the same
    *    objects the batch plan ships as literals); the LUT replica
    *    reproduces Pq.subDist's fold order so its doubles are bit-equal;
    *  - candidate generation: stream-static equi-join on `cell` against
    *    the barrier-persisted codes table — |corpus|·nprobe/kCells codes
    *    scanned per query, the IVF-PQ contract, no per-batch rebuild;
    *  - scoring: [[Pq.adcScore]], the SAME Catalyst expression as batch,
    *    on the same (lut, codes) inputs — stream ≡ batch by expression
    *    identity (StreamingSimilaritySpec asserts bit-equal dists);
    *  - per-query top-k: stateless grouped sort-take (all candidates of
    *    a query live in its own micro-batch).
    * With nprobe = kCells this serves the FLAT ADC answer (batch spec:
    * nprobe=all ≡ adcTopK), so one method covers both serving modes. */
  def ivfAdcTopK(queries: DataFrame, index: Pq.IvfPqIndex, kNN: Int, nprobe: Int = 4,
                 id: String = "vec_id", vec: String = "embedding"): Dataset[AdcHit] = {
    val spark = queries.sparkSession
    import spark.implicits._
    implicit val outEnc = Encoders.product[AdcHit]
    implicit val probeEnc = Encoders.product[PqProbe]
    implicit val candEnc = Encoders.product[PqCand]
    val books = index.books
    val (m, dsub) = (books.m, books.dsub)
    val cb: Array[Array[Array[Double]]] = books.cb.map(_.map(_.toArray).toArray).toArray
    val cents: Array[(Int, Array[Double])] = index.centroids
      .select(col("cell"), col("centroid").cast(ArrayType(DoubleType)))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val bcCents = spark.sparkContext.broadcast(cents)
    val bcCb = spark.sparkContext.broadcast(cb)

    val cells = graft.util.Caching.barrier(
      index.cells.select(col(id).as("neighborId"), col("cell"), col("codes")))

    val probes: Dataset[PqProbe] = queries
      .select(col(id).cast("long").as("queryId"),
        col(vec).cast(ArrayType(DoubleType)).as("qv"))
      .as[(Long, Array[Double])]
      .flatMap { case (qId, qv) =>
        val books = bcCb.value
        val lutArr = Array.tabulate(m)(s =>
          Array.tabulate(books(s).length)(j => subDistJvm(qv, s, dsub, books(s)(j))))
        // batch rank window semantics: sim desc, cell asc, top nprobe
        bcCents.value.iterator
          .map { case (cell, cv) => (cell, cosine(qv, cv)) }
          .toSeq.sortBy { case (cell, sim) => (-sim, cell) }
          .take(nprobe)
          .map { case (cell, _) => PqProbe(qId, lutArr, cell) }
      }

    val cands = probes.toDF()
      .join(cells, "cell")
      .filter(col("queryId") =!= col("neighborId"))
      .withColumn("dist", Pq.adcScore(m, col("lut"), col("codes")))
      .select(col("queryId"), col("neighborId"), col("dist"))
      .as[PqCand]
    // batch tie-break: dist asc, then neighbor id asc — Pq.ivfAdcTopK's rank window
    perQuery(cands, (_: PqCand).queryId)(
      _.sortBy(c => (c.dist, c.neighborId)).take(kNN).zipWithIndex
        .map { case (c, i) => AdcHit(c.queryId, c.neighborId, i + 1, c.dist) })
  }

  /** Top-k for a LIVE query stream against a static SQ8-encoded corpus
    * ([[Sq.encode]]) — the streaming twin of [[Sq.topK]], the serving
    * mode of the scalar-quantized tier. The corpus dequantizes ONCE into
    * a barrier-persisted table (release via `graft.util.Caching
    * .release()` when the query stops); each micro-batch is one
    * stream-static join against it — no per-batch rebuild, no state
    * (grouped top-k is per-batch, every candidate lives in its query's
    * micro-batch). Scoring is the SAME [[graft.functions.VectorExprs
    * .cosineSim]] expression on the same dequantized doubles as batch,
    * so stream ≡ batch bit-exactly. */
  def sq8TopK(queries: DataFrame, encoded: DataFrame, k: Int,
              qId: String = "vec_id", qVec: String = "embedding",
              cId: String = "vec_id"): Dataset[KnnHit] = {
    val spark = queries.sparkSession
    import spark.implicits._
    implicit val candEnc = Encoders.product[Cand]
    val dq = graft.util.Caching.barrier(
      encoded.select(col(cId).cast("long").as("neighborId"),
        Sq.dequant(col("codes"), col("vmin"), col("scale")).as("cv"),
        lit(1).as("__one")))
    cosineTopK(queries
      .select(col(qId).cast("long").as("queryId"),
        transform(col(qVec), x => x.cast("double")).as("qv"), lit(1).as("__one"))
      .join(dq, "__one")
      .filter(col("queryId") =!= col("neighborId"))
      .withColumn("cosine", graft.functions.VectorExprs.cosineSim(col("qv"), col("cv")))
      .select(col("queryId"), col("neighborId"), col("cosine"))
      .as[Cand], k)
  }

  // ---- online hamming near-dup over precomputed 64-bit signatures ----

  /** One banded signature arrival (object-level for the encoder). */
  private[llm] case class SigBandRow(bandKey: String, band: Int, id: Long, sig: Long)
  private[llm] case class SigMember(id: Long, sig: Long)
  /** Emitted near-dup pair, schema-matching [[Dedup.sigPairs]]. */
  case class SigPair(id1: Long, id2: Long, dist: Int)

  /** Per-bucket fold. Exactly-once across the multi-table banding:
    * a pair sharing k band keys appears in k buckets; each bucket knows
    * its combo index and emits only when IT is the FIRST matching combo
    * for the two signatures (recomputed as pure bit arithmetic — no
    * cross-bucket coordination). State = the bucket's stored members
    * (append-only), capped at maxBucketSize (the batch capBuckets bound).
    *
    * Redelivery: an arriving (id, sig) already present in the bucket's
    * state is a replay — it is skipped entirely (no re-check, no
    * re-append), so at-least-once upstream delivery cannot duplicate
    * SigPair emissions (the batch twin ends with `.distinct()`).
    *
    * DOCUMENTED divergence under cap overflow: a member dropped by a
    * full first-matching-combo bucket is invisible there, and later
    * matches routed to OTHER combos suppress under the first-combo
    * rule — the pair is lost, where batch (any-combo + distinct) might
    * still find it via a non-overflowed band. Recovering it would need
    * cross-bucket knowledge of where each end was actually stored;
    * within one bucket's view the rule stays pure bit arithmetic.
    * Overflow means a degenerate bucket (the same event batch capBuckets
    * guards against), so the loss surface matches the batch guard's. */
  private def sigBucket(maxDist: Int, width: Int, combos: Seq[Seq[Int]], maxBucketSize: Int)(
      key: String, rows: Iterator[SigBandRow],
      members: Iterator[SigMember]): (Iterable[SigMember], Iterator[SigPair]) = {
    val mask = if (width >= 64) -1L else (1L << width) - 1
    def comboKey(c: Seq[Int], sig: Long): Long =
      c.foldLeft(0L)((acc, b) => (acc << width) | ((sig >>> (b * width)) & mask))
    def firstMatchingCombo(s1: Long, s2: Long): Int = {
      var i = 0
      while (i < combos.length) {
        if (comboKey(combos(i), s1) == comboKey(combos(i), s2)) return i
        i += 1
      }
      -1
    }
    val stored = mutable.ArrayBuffer.from(members)
    val out = mutable.ArrayBuffer.empty[SigPair]
    val fresh = mutable.ArrayBuffer.empty[SigMember]
    // id order within the batch: same-batch pairs emit deterministically
    rows.toSeq.sortBy(_.id).foreach { r =>
      // replayed member (same id AND sig already stored): its pairs
      // were emitted at first delivery — skip check and append both.
      val replay = stored.exists(m => m.id == r.id && m.sig == r.sig)
      if (!replay) {
        stored.foreach { m =>
          if (m.id != r.id) {
            val dist = java.lang.Long.bitCount(m.sig ^ r.sig)
            if (dist <= maxDist && firstMatchingCombo(m.sig, r.sig) == r.band) {
              val (a, b) = if (m.id < r.id) (m.id, r.id) else (r.id, m.id)
              out += SigPair(a, b, dist)
            }
          }
        }
        if (stored.length < maxBucketSize) {
          stored += SigMember(r.id, r.sig)
          fresh += SigMember(r.id, r.sig)
        }
      }
    }
    (fresh, out.iterator)
  }

  /** Arrival-time near-dup pairs over a STREAM of precomputed 64-bit
    * signatures (image dHash, audio energy prints, text simhash) — the
    * online twin of [[Dedup.sigPairs]]: the identical recall-1
    * permuted-block geometry ([[Dedup.simhashBanding]]), with each
    * arriving signature checked against its buckets' stored members.
    * Every ≤ maxDist pair emits exactly once (first-matching-band
    * rule; replayed inputs are skipped), whether its ends share a
    * micro-batch or arrive epochs apart — except under bucket-cap
    * overflow, where pairs can be lost (see the `sigBucket` divergence
    * note). The only Exchange is the band-key state routing. */
  def sigPairsOnline(sigs: DataFrame, idCol: String, sigCol: String,
                     maxDist: Int = 3, maxBucketSize: Int = 1000): Dataset[SigPair] = {
    val spark = sigs.sparkSession
    import spark.implicits._
    implicit val rowEnc = Encoders.product[SigBandRow]
    implicit val memberEnc = Encoders.product[SigMember]
    implicit val outEnc = Encoders.product[SigPair]
    val (width, combos) = Dedup.simhashBanding(maxDist)
    val mask = if (width >= 64) -1L else (1L << width) - 1
    val banded = sigs
      .select(col(idCol).cast("long").as("id"), col(sigCol).cast("long").as("sig"))
      .as[(Long, Long)]
      .flatMap { case (id, sig) =>
        combos.indices.map { ci =>
          var key = 0L
          combos(ci).foreach(b => key = (key << width) | ((sig >>> (b * width)) & mask))
          SigBandRow(s"$ci:$key", ci, id, sig)
        }
      }
    TwsOps.appendByKey(banded, (_: SigBandRow).bandKey)(
      sigBucket(maxDist, width, combos, maxBucketSize))
  }
}
