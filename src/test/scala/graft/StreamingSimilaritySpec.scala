package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Ivf, StreamingSimilarity}

/** Query vector for the streaming ANN spec (top-level for the encoder). */
case class SsQuery(vec_id: Long, embedding: Array[Float])

/** Signature arrival for the online sigPairs spec. */
case class SsSig(media_id: Long, dhash: Long)

/** Online ANN == batch IVF: the streaming [[StreamingSimilarity.ivfTopK]]
  * must produce bit-identical (neighbor, rank, cosine) results to batch
  * [[Ivf.topK]] over the same prebuilt index — including the centroid
  * probe tie-breaks, which the streaming side evaluates JVM-side. */
class StreamingSimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming ivfTopK == batch Ivf.topK, bit-equal cosines") {
    import org.apache.spark.sql.Encoders
    implicit val qEnc = Encoders.product[SsQuery]
    import spark.implicits._

    // clustered corpus (4 tight clusters, 32-dim) — the IVF-friendly shape
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val corpus = (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }.toDF("vec_id", "embedding")
    val index = Ivf.buildIndex(corpus, k = 4, iters = 2)

    val queryRows = (0L until 24L).map { i =>
      val c = centers((i % 4).toInt)
      SsQuery(1000L + i, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val queriesDf = spark.createDataset(queryRows)
      .toDF("vec_id", "embedding")
    val batch = Ivf.topK(queriesDf, corpus, index, k = 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> (r.getLong(1), r.getDouble(3))).toMap

    val stream = RestartParity.run(queryRows, seed = 22, batches = 4, kills = 1)(
        ds => StreamingSimilarity.ivfTopK(ds.toDF(), corpus, index, k = 5, nprobe = 2))
      .map(h => (h.queryId, h.rk) -> (h.neighborId, h.cosine)).toMap
    graft.util.Caching.release()

    assert(stream.size == batch.size, s"stream ${stream.size} rows vs batch ${batch.size}")
    assert(stream.size == 24 * 5)
    batch.foreach { case (key, (nbr, cos)) =>
      val (snbr, scos) = stream(key)
      assert(snbr == nbr && scos == cos, // bit-equal, not tolerance
        s"$key: stream ($snbr, $scos) vs batch ($nbr, $cos)")
    }
  }

  test("streaming ivfAdcTopK == batch Pq.ivfAdcTopK, bit-equal dists; nprobe=all == flat ADC") {
    import org.apache.spark.sql.Encoders
    implicit val qEnc = Encoders.product[SsQuery]
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val rnd = new scala.util.Random(23)
    val centers = Array.fill(4)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val corpus = (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }.toDF("vec_id", "embedding")
    val index = graft.llm.Pq.buildIvfPqIndex(corpus, kCells = 4, m = 8, k = 8)

    val queryRows = (0L until 18L).map { i =>
      val c = centers((i % 4).toInt)
      SsQuery(1000L + i, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val queriesDf = spark.createDataset(queryRows).toDF("vec_id", "embedding")
    val batch = graft.llm.Pq.ivfAdcTopK(queriesDf, index, kNN = 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> (r.getLong(1), r.getDouble(3))).toMap

    val stream = RestartParity.run(queryRows, seed = 65, batches = 4, kills = 1)(
        ds => StreamingSimilarity.ivfAdcTopK(ds.toDF(), index, kNN = 5, nprobe = 2))
      .map(h => (h.queryId, h.rk) -> (h.neighborId, h.dist)).toMap

    assert(stream.size == batch.size && stream.size == 18 * 5,
      s"stream ${stream.size} rows vs batch ${batch.size}")
    batch.foreach { case (key, (nbr, dist)) =>
      val (snbr, sdist) = stream(key)
      assert(snbr == nbr && sdist == dist, // bit-equal: same adcScore expression
        s"$key: stream ($snbr, $sdist) vs batch ($nbr, $dist)")
    }

    // online serving of the FLAT index: probing every cell must equal
    // flat adcTopK (composes with LlmSpec's batch nprobe=all ≡ adcTopK)
    val flat = graft.llm.Pq.adcTopK(queriesDf, graft.llm.Pq.encode(corpus, index.books),
        index.books, kNN = 3).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> (r.getLong(1), r.getDouble(3))).toMap
    val mem2 = MemoryStream[SsQuery]
    val q2 = StreamingSimilarity.ivfAdcTopK(mem2.toDF(), index, kNN = 3, nprobe = 4)
      .writeStream.outputMode("append").format("memory").queryName("ss_adc_flat")
      .trigger(Trigger.ProcessingTime(0)).start()
    mem2.addData(queryRows: _*); q2.processAllAvailable()
    val stream2 = spark.table("ss_adc_flat").collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> (r.getLong(1), r.getDouble(3))).toMap
    q2.stop()
    graft.util.Caching.release()
    assert(stream2 == flat, "nprobe=all streaming != flat batch ADC")
  }

  test("streaming sq8TopK == batch Sq.topK, bit-equal cosines") {
    import org.apache.spark.sql.Encoders
    implicit val qEnc = Encoders.product[SsQuery]
    import spark.implicits._

    val rnd = new scala.util.Random(31)
    val centers = Array.fill(3)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val corpus = (0L until 120L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }.toDF("vec_id", "embedding")
    val enc = graft.llm.Sq.encode(corpus, "vec_id", "embedding")

    val queryRows = (0L until 12L).map { i =>
      val c = centers((i % 3).toInt)
      SsQuery(2000L + i, c.map(x => x + rnd.nextGaussian().toFloat * 0.1f))
    }
    val queriesDf = spark.createDataset(queryRows).toDF("vec_id", "embedding")
    val batch = graft.llm.Sq.topK(queriesDf, enc, 4).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> (r.getLong(1), r.getDouble(3))).toMap

    val stream = RestartParity.run(queryRows, seed = 121, batches = 3, kills = 1)(
        ds => StreamingSimilarity.sq8TopK(ds.toDF(), enc, 4))
      .map(h => (h.queryId, h.rk) -> (h.neighborId, h.cosine)).toMap
    graft.util.Caching.release()

    assert(stream.size == batch.size && stream.size == 12 * 4)
    batch.foreach { case (key, (nbr, cos)) =>
      val (snbr, scos) = stream(key)
      assert(snbr == nbr && scos == cos, // bit-equal: same cosineSim on same dequant
        s"$key: stream ($snbr, $scos) vs batch ($nbr, $cos)")
    }
  }

  test("streaming sigPairsOnline == batch Dedup.sigPairs on the planted image fixture") {
    import org.apache.spark.sql.Encoders
    implicit val sEnc = Encoders.product[SsSig]
    import spark.implicits._

    // real perceptual fingerprints from the planted near-dup PNG fixture
    val ids = spark.range(0, 200).toDF("doc_id")
    val sigRows = graft.llm.Multimodal.imageDHash(
        graft.llm.Multimodal.syntheticPng(ids, "doc_id", contentMod = 80L))
      .filter(org.apache.spark.sql.functions.col("decoded"))
      .collect().map(r => SsSig(r.getLong(0), r.getLong(2))).sortBy(_.media_id).toSeq
    val sigDf = spark.createDataset(sigRows).toDF("media_id", "dhash")
    val batch = graft.llm.Dedup.sigPairs(sigDf, "media_id", "dhash", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    graft.util.Caching.release()

    // uneven micro-batches: pairs must surface whether their ends share
    // a batch or arrive epochs apart — and across a kill
    val (seed, batches, killAt) = (161L, 6, Set(1))
    val (cuts, _) = RestartParity.plan(sigRows.size, seed, batches, killAt = killAt)
    val resume = sigRows(cuts(killAt.head + 1)).media_id
    assert(batch.exists { case (a, b, _) => a < resume && b >= resume })
    val stream = RestartParity.run(sigRows, seed, batches = batches, killAt = killAt)(
        ds => StreamingSimilarity.sigPairsOnline(ds.toDF(), "media_id", "dhash", maxDist = 3))
      .map(p => (p.id1, p.id2, p.dist)).toSet

    assert(stream == batch, s"stream ${stream.size} pairs vs batch ${batch.size}")
    assert(batch.nonEmpty && batch.exists { case (a, b, _) => b - a == 80 || b - a == 160 },
      "planted copies must surface")
  }
}
