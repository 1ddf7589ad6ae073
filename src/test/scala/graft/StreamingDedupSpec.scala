package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, StreamingDedup}

/** Test-fixture document (top-level: streaming encoders need an
  * outer-free case class). */
case class SdDoc(docId: Long, text: String)

/** Online dedup == batch dedup: the streaming [[StreamingDedup]]
  * operators, fed the corpus as micro-batches in id order, must produce
  * exactly the batch [[Dedup]] answers (same fingerprint/minhash
  * expressions, first-seen == min-id under ordered arrival, no bucket at
  * its cap). The stateful twins run through [[RestartParity]]: killed
  * and resumed from their checkpoint where state must cross the kill.
  */
class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Deterministic corpus: base docs from a seeded RNG, planted exact
    * dups and near-dups (word-level edits) — the same shape as the
    * driver's documents fixture, sized for a streaming spec. */
  lazy val corpus: Seq[SdDoc] = {
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
      "victor", "whiskey", "xray", "yankee", "zulu")
    // every third word a function word: natural-language shape, so the
    // quality gate in the composed-pipeline test separates these from junk
    val stops = Vector("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
    def sentence(n: Int) = (0 until n).map(i =>
      if (i % 3 == 2) stops(rnd.nextInt(stops.size))
      else vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0 until 120).map(i => SdDoc(i.toLong, sentence(18 + rnd.nextInt(18))))
    // 20 near-dups: copy an earlier doc, mutate 1-2 words
    val near = (0 until 20).map { i =>
      val src = base(rnd.nextInt(base.size))
      val words = src.text.split(" ").toBuffer
      words(rnd.nextInt(words.size)) = vocab(rnd.nextInt(vocab.size))
      if (i % 2 == 0) words(rnd.nextInt(words.size)) = vocab(rnd.nextInt(vocab.size))
      SdDoc(200L + i, words.mkString(" "))
    }
    // 10 exact dups (with whitespace/case jitter the fingerprint normalizes)
    val exact = (0 until 10).map { i =>
      val src = base(rnd.nextInt(base.size))
      val t = if (i % 2 == 0) "  " + src.text.toUpperCase + " " else src.text + "  "
      SdDoc(300L + i, t)
    }
    base ++ near ++ exact
  }

  private def feed[T](mem: MemoryStream[T], data: Seq[T], chunks: Int,
                         q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    data.grouped(data.size / chunks + 1).foreach { c => mem.addData(c: _*); q.processAllAvailable() }

  test("streaming exact dedup == batch Dedup.exact under ordered arrival") {
    import org.apache.spark.sql.Encoders
    implicit val docEnc = Encoders.product[SdDoc]
    import spark.implicits._

    val df = spark.createDataset(corpus).toDF()
    val batch = Dedup.exact(df, "text", "docId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val rows = corpus.sortBy(_.docId)
    val (seed, batches, killAt) = (62L, 5, Set(1))
    val (cuts, _) = RestartParity.plan(rows.size, seed, batches, killAt = killAt)
    val resume = rows(cuts(killAt.head + 1)).docId
    // a duplicate group straddles the kill: its first-seen id is in state
    assert(rows.exists(d => d.docId >= resume && batch(d.docId) < resume))
    val stream = RestartParity.run(rows, seed, batches = batches, killAt = killAt)(
        ds => StreamingDedup.exactFlags(ds.toDF(), "text", "docId"))
      .map(f => f.docId -> f.canonicalId).toMap

    assert(stream.size == corpus.size)
    assert(batch.size == corpus.size)
    corpus.foreach { d =>
      assert(stream(d.docId) == batch(d.docId),
        s"doc ${d.docId}: stream canonical ${stream(d.docId)} vs batch ${batch(d.docId)}")
    }
    // sanity: the fixture actually contains duplicate groups
    assert(stream.count { case (id, canon) => id != canon } >= 10)
  }

  test("streaming minhash pairs == batch Dedup.minhashPairs, exactly-once across bands") {
    import org.apache.spark.sql.Encoders
    implicit val docEnc = Encoders.product[SdDoc]
    import spark.implicits._

    val thr = 0.6
    val df = spark.createDataset(corpus).toDF()
    val batchPairs = Dedup.minhashPairs(df, "text", "docId", thr).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    graft.util.Caching.release()

    val rows = corpus.sortBy(_.docId)
    val (seed, batches, killAt) = (99L, 5, Set(2))
    val (cuts, _) = RestartParity.plan(rows.size, seed, batches, killAt = killAt)
    val resume = rows(cuts(killAt.head + 1)).docId
    // a planted pair straddles the kill: its first end is in bucket state
    assert(batchPairs.keys.exists { case (a, b) => a < resume && b >= resume })
    val streamRows = RestartParity.run(rows, seed, batches = batches, killAt = killAt)(
        ds => StreamingDedup.minhashPairs(ds.toDF(), "text", "docId", thr))
      .map(p => (p.id1, p.id2) -> p.jaccard)

    // first-matching-band emission: no pair appears twice in the RAW output
    assert(streamRows.length == streamRows.map(_._1).distinct.length,
      "a pair was emitted from more than one band")
    val stream = streamRows.toMap
    assert(stream.keySet == batchPairs.keySet,
      s"pair sets differ: stream-only=${stream.keySet -- batchPairs.keySet} " +
        s"batch-only=${batchPairs.keySet -- stream.keySet}")
    stream.foreach { case (k, j) =>
      assert(math.abs(j - batchPairs(k)) < 1e-12, s"$k: jaccard $j vs ${batchPairs(k)}")
    }
    // sanity: the planted near-dups are actually found
    assert(stream.nonEmpty && stream.size >= 15, s"only ${stream.size} pairs")
  }

  test("online clustering: incremental union-find over streaming pairs == batch nearDupClusters") {
    import org.apache.spark.sql.Encoders
    implicit val docEnc = Encoders.product[SdDoc]
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val thr = 0.6
    val df = spark.createDataset(corpus).toDF()
    val batch = Dedup.nearDupClusters(df, "text", "docId", thr).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.util.Caching.release()

    val uf = new StreamingDedup.IncrementalComponents
    val mem = MemoryStream[SdDoc]
    val q = StreamingDedup.minhashPairs(mem.toDF(), "text", "docId", thr)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingDedup.NearDupPair], _: Long) =>
        uf.synchronized { uf.addPairs(b.collect().map(p => (p.id1, p.id2))) }; ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    // docs arrive in id order; each is observed as it arrives (the
    // serving answer "clusterOf(id)" is defined from arrival onward)
    corpus.sortBy(_.docId).grouped(7).foreach { c =>
      c.foreach(d => uf.observe(d.docId))
      mem.addData(c: _*); q.processAllAvailable()
    }
    q.stop()
    graft.util.Caching.release()

    val online = uf.synchronized(uf.assignments)
    assert(online.size == corpus.size)
    assert(online == batch, {
      val diff = batch.collect { case (id, c) if online.get(id) != Some(c) =>
        s"$id: online=${online.get(id)} batch=$c" }
      s"${diff.size} mismatches: ${diff.take(5).mkString("; ")}"
    })
    // the planted structure is non-trivial: some real multi-doc clusters
    assert(online.values.toSet.size < corpus.size)
  }

  /** Reference (benchmark) corpus: mutated copies of some train docs plus
    * a few verbatim ones — the contamination the filter must catch. */
  lazy val reference: Seq[SdDoc] = {
    val rnd = new scala.util.Random(7L)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    val mutated = (0 until 12).map { i =>
      val src = corpus(rnd.nextInt(120))
      val words = src.text.split(" ").toBuffer
      words(rnd.nextInt(words.size)) = vocab(rnd.nextInt(vocab.size))
      SdDoc(900L + i, words.mkString(" "))
    }
    val verbatim = (0 until 4).map(i => SdDoc(950L + i, corpus(rnd.nextInt(120)).text))
    mutated ++ verbatim
  }

  test("streaming decontamination == batch crossPairs/decontaminate, stateless") {
    import org.apache.spark.sql.Encoders
    implicit val docEnc = Encoders.product[SdDoc]
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val thr = 0.6
    val trainDf = spark.createDataset(corpus).toDF()
    val refDf = spark.createDataset(reference).toDF()
    val batchPairs = Dedup.crossPairs(trainDf, refDf, "text", "docId", thr).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batchClean = Dedup.decontaminate(trainDf, refDf, "text", "docId", thr)
      .select("docId").collect().map(_.getLong(0)).toSet
    graft.util.Caching.release()

    val mem = MemoryStream[SdDoc]
    val q = StreamingDedup.contaminationMatches(mem.toDF(), refDf, "text", "docId", thr)
      .writeStream.outputMode("append").format("memory").queryName("sd_contam")
      .trigger(Trigger.ProcessingTime(0)).start()
    feed(mem, corpus.sortBy(_.docId), 4, q)
    val streamRows = spark.table("sd_contam").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    q.stop()

    // stateless exactly-once: no pair emitted twice even across bands
    assert(streamRows.length == streamRows.map(_._1).distinct.length)
    val stream = streamRows.toMap
    assert(stream.keySet == batchPairs.keySet,
      s"stream-only=${stream.keySet -- batchPairs.keySet} " +
        s"batch-only=${batchPairs.keySet -- stream.keySet}")
    stream.foreach { case (k, j) =>
      assert(math.abs(j - batchPairs(k)) < 1e-12, s"$k: jaccard $j vs ${batchPairs(k)}")
    }
    assert(stream.size >= 12, s"only ${stream.size} contamination hits")

    // the clean-filter form: surviving ids == batch decontaminate ids
    val mem2 = MemoryStream[SdDoc]
    val q2 = StreamingDedup.decontaminate(mem2.toDF(), refDf, "text", "docId", thr)
      .writeStream.outputMode("append").format("memory").queryName("sd_clean")
      .trigger(Trigger.ProcessingTime(0)).start()
    feed(mem2, corpus.sortBy(_.docId), 4, q2)
    val streamClean = spark.table("sd_clean").collect().map(_.getLong(0)).toSet
    q2.stop()
    assert(streamClean == batchClean,
      s"stream-only=${streamClean -- batchClean} batch-only=${batchClean -- streamClean}")
    assert(batchClean.size < corpus.size, "fixture has no contamination")
  }

  test("composed online ingest hygiene: quality gate -> decontaminate -> dedup flag in ONE query") {
    // the full arrival-time pipeline as a single streaming query — one
    // stateless quality filter, one stateless broadcast decontamination
    // probe, ONE shuffle (the fingerprint groupByKey) — equal to the
    // composed batch pipeline on the same corpus
    import org.apache.spark.sql.Encoders
    implicit val docEnc = Encoders.product[SdDoc]
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val junk = (0 until 15).map(i => SdDoc(400L + i, Seq.fill(40 + i)("spam").mkString(" ")))
    val feedDocs = (corpus ++ junk).sortBy(_.docId)
    val trainDf = spark.createDataset(feedDocs).toDF()
    val refDf = spark.createDataset(reference).toDF()
    // threshold from the batch expression itself: strictly between the
    // junk band and the vocab band, so the gate provably drops rows
    val scores = trainDf.select(org.apache.spark.sql.functions.col("docId"),
        graft.llm.TextAnalysis.qualityScore(
          org.apache.spark.sql.functions.col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val junkMax: Double = junk.map(d => scores(d.docId)).max
    val realMin: Double = corpus.map(d => scores(d.docId)).min
    assert(junkMax < realMin, s"fixture junk ($junkMax) not separable from real ($realMin)")
    val minScore = (junkMax + realMin) / 2
    val thr = 0.6

    val batchFlags = Dedup.exact(
        Dedup.decontaminate(
          graft.llm.Curation.qualityFilter(trainDf, "text", minScore),
          refDf, "text", "docId", thr),
        "text", "docId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.util.Caching.release()

    val mem = MemoryStream[SdDoc]
    val gated = graft.llm.Curation.qualityFilter(mem.toDF(), "text", minScore)
    val clean = StreamingDedup.decontaminate(gated, refDf, "text", "docId", thr)
    val q = StreamingDedup.exactFlags(clean.toDF(), "text", "docId")
      .writeStream.outputMode("append").format("memory").queryName("sd_pipeline")
      .trigger(Trigger.ProcessingTime(0)).start()
    feed(mem, feedDocs, 5, q)
    val stream = spark.table("sd_pipeline").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()

    assert(stream == batchFlags,
      s"stream-only=${stream.keySet -- batchFlags.keySet} " +
        s"batch-only=${batchFlags.keySet -- stream.keySet}")
    // every stage did real work: junk gated, contamination dropped, dups flagged
    assert(junk.forall(d => !stream.contains(d.docId)))
    assert(stream.size < corpus.size)
    assert(stream.exists { case (id, canon) => id != canon })
  }

  test("streaming bloom decontamination == batch verdict, stateless, even at fpp 0.5") {
    import org.apache.spark.sql.Encoders
    implicit val docEnc = Encoders.product[SdDoc]
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val trainDf = spark.createDataset(corpus).toDF()
    val refDf = spark.createDataset(reference).toDF()
    val batch = Dedup.bloomDecontaminate(trainDf, refDf, "text", "docId", n = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    graft.util.Caching.release()
    assert(batch.values.exists(identity) && batch.values.exists(!_),
      "fixture should have both verdicts")

    Seq(0.01, 0.5).zipWithIndex.foreach { case (fpp, i) =>
      val mem = MemoryStream[SdDoc]
      val q = StreamingDedup.bloomDecontaminate(mem.toDF(), refDf, "text", "docId",
          n = 5, fpp = fpp)
        .writeStream.outputMode("append").format("memory").queryName(s"sd_bloom_$i")
        .trigger(Trigger.ProcessingTime(0)).start()
      feed(mem, corpus.sortBy(_.docId), 4, q)
      val stream = spark.table(s"sd_bloom_$i").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      q.stop()
      assert(stream == batch, s"fpp=$fpp: stream verdicts != batch")
    }
  }
}
