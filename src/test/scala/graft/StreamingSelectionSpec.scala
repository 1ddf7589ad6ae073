package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dsir, Ivf, SemDedup, StreamingSelection}

/** Vector row (top-level for the encoder). */
case class StVec(vec_id: Long, embedding: Seq[Float])

/** Online twins of the data-selection operators: arrival-time SemDeDup
  * (≡ the batch greedy kept-chain rule on replay) and frozen-ratio DSIR
  * scoring (stateless ⇒ stream equals batch exactly). */
class StreamingSelectionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val fixtureEmb = spark.read.parquet(s"${TestSpark.sf}/embeddings.parquet")
  lazy val fixtureDocs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")

  test("online semdedup over id-ordered micro-batches equals batch greedy flags") {
    import org.apache.spark.sql.Encoders
    implicit val vEnc = Encoders.product[StVec]
    val cents = Ivf.buildCentroids(fixtureEmb, k = 8, iters = 1)
    val batch = SemDedup.semDedupGreedy(fixtureEmb, cents, 0.35)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    graft.util.Caching.release()

    val rows = fixtureEmb.select("vec_id", "embedding").collect()
      .map(r => StVec(r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_.vec_id).toSeq
    // uneven micro-batches and a kill: state must carry kept reps across
    // both — a state reset would re-admit post-kill near-dups as kept
    val (seed, batches, kills) = (127L, 4, 1)
    val (cuts, killAt) = RestartParity.plan(rows.size, seed, batches, kills)
    val resume = rows(cuts(killAt.head + 1)).vec_id
    assert(rows.exists(v => v.vec_id >= resume && !batch(v.vec_id)._2))
    val online = RestartParity.run(rows, seed, batches = batches, kills = kills)(
        ds => StreamingSelection.semDedupOnline(ds.toDF(), cents, 0.35))
      .map(f => f.vecId -> (f.cell, f.kept)).toMap
    assert(online == batch)
    assert(online.values.exists(!_._2)) // the stream actually dropped dups
  }

  test("frozen DSIR scorer: stream scores equal the batch hashed arm") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[StDoc]
    implicit val sq = spark.sqlContext
    val pred = col("lang") === "en"
    val buckets = 4096
    val batch = Dsir.hashedScore(fixtureDocs, "text", "doc_id", pred, buckets)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val scorer = Dsir.frozenHashedScorer(fixtureDocs, "text", pred, buckets)
    val rows = fixtureDocs.select("doc_id", "text").collect()
      .map(r => StDoc(r.getLong(0), r.getString(1)))
    val mem = MemoryStream[StDoc]
    val q = mem.toDF().select(col("doc_id"), scorer(col("text")).as("score"))
      .writeStream.outputMode("append").format("memory").queryName("st_dsir")
      .trigger(Trigger.ProcessingTime(0)).start()
    rows.grouped(100).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val online = spark.table("st_dsir").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    q.stop()
    assert(online == batch) // stateless projection: bit-identical
  }

  test("online edit near-dup replay equals the batch LSH-gated pair set") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[StDoc]
    val d = 20
    val batch = graft.llm.EditDedup.verifiedPairs(fixtureDocs, "text", "doc_id", d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    graft.util.Caching.release()
    val rows = fixtureDocs.select("doc_id", "text").collect()
      .map(r => StDoc(r.getLong(0), r.getString(1))).sortBy(_.doc_id).toSeq
    val (seed, batches, killAt) = (175L, 6, Set(1))
    val (cuts, _) = RestartParity.plan(rows.size, seed, batches, killAt = killAt)
    val resume = rows(cuts(killAt.head + 1)).doc_id
    // a planted pair straddles the kill: its first end is in bucket state
    assert(batch.exists { case (a, b, _, _) => a < resume && b >= resume })
    val online = RestartParity.run(rows, seed, batches = batches, killAt = killAt)(
        ds => StreamingSelection.editPairsOnline(ds.toDF(), "text", "doc_id", d))
      .map(p => (p.id1, p.id2, p.dist, p.sim)).toSet
    assert(online == batch)
    assert(batch.nonEmpty)
  }

  test("online edit twin agrees with batch beyond ASCII (codepoint units)") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[StDoc]
    implicit val sq = spark.sqlContext
    // multibyte + supplementary-plane text: UTF-16 units ≠ codepoints,
    // so a char-based stream DP would disagree with Spark's levenshtein
    val base = "日本語のテキスト 重複 検出 𝄞 clef " * 3
    val docs = Seq(
      StDoc(0L, base), StDoc(1L, base + "追加"), StDoc(2L, base.replace("検出", "檢出")),
      StDoc(3L, "まったく別の内容 でも 単語 は 共有 しません 𝄢 " * 3))
    val df = spark.createDataset(docs).toDF()
    val d = 6
    val batch = graft.llm.EditDedup.verifiedPairs(df, "text", "doc_id", d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    graft.util.Caching.release()
    val mem = MemoryStream[StDoc]
    val q = graft.llm.StreamingSelection.editPairsOnline(mem.toDF(), "text", "doc_id", d)
      .writeStream.outputMode("append").format("memory").queryName("st_edit_cp")
      .trigger(Trigger.ProcessingTime(0)).start()
    docs.grouped(2).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val online = spark.table("st_edit_cp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    q.stop()
    assert(batch.nonEmpty)
    assert(online == batch)
  }

  test("ngram-diversity sketch runs as a live streaming aggregate, bounded vs exact") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[StDoc]
    implicit val sq = spark.sqlContext
    val exact = graft.llm.CorpusStats.ngramDiversity(fixtureDocs, "text", Seq(3))
      .collect()(0)
    val rows = fixtureDocs.select("doc_id", "text").collect()
      .map(r => StDoc(r.getLong(0), r.getString(1)))
    val mem = MemoryStream[StDoc]
    // complete mode: the per-n diversity row re-emits per micro-batch —
    // the live synthetic-collapse monitor (HLL state is bounded); a
    // single n per query (a union of streaming aggregates is not a
    // supported streaming plan)
    val q = graft.llm.CorpusStats.ngramDiversitySketch(mem.toDF(), "text", Seq(3))
      .writeStream.outputMode("complete").format("memory").queryName("st_div")
      .trigger(Trigger.ProcessingTime(0)).start()
    rows.grouped(120).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val live = spark.table("st_div").collect()(0)
    q.stop()
    assert(live.getAs[Long]("total") == exact.getAs[Long]("total"))
    val exactU = exact.getAs[Long]("uniq").toDouble
    assert(math.abs(live.getAs[Long]("uniq") - exactU) <= 0.1 * exactU)
    assert(math.abs(live.getAs[Double]("diversity") - exact.getAs[Double]("diversity")) <= 0.05)
  }

  test("frozen NB tagger: stream predictions equal the exact batch arm") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[StDoc]
    implicit val sq = spark.sqlContext
    // collision-free buckets ⇒ hashed model ≡ exact model (same counts,
    // same smoothing denominator), so frozen predictions must match the
    // exact arm's labels, scores to fold-order tolerance
    val model = graft.llm.NaiveBayes.fit(fixtureDocs, "text", "lang")
    val exact = graft.llm.NaiveBayes.predict(fixtureDocs, "text", "doc_id", model)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val tagger = graft.llm.NaiveBayes.frozenHashedTagger(
      fixtureDocs, "text", "lang", buckets = 1 << 22)
    val rows = fixtureDocs.select("doc_id", "text").collect()
      .map(r => StDoc(r.getLong(0), r.getString(1)))
    val mem = MemoryStream[StDoc]
    val q = mem.toDF().select(col("doc_id"), tagger(col("text")).as("t"))
      .select(col("doc_id"), col("t.predicted"), col("t.score"))
      .writeStream.outputMode("append").format("memory").queryName("st_nb")
      .trigger(Trigger.ProcessingTime(0)).start()
    rows.grouped(100).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val online = spark.table("st_nb").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    q.stop()
    assert(online.keySet == exact.keySet)
    exact.foreach { case (id, (cls, s)) =>
      assert(online(id)._1 == cls, s"doc $id label")
      assert(math.abs(online(id)._2 - s) < 1e-9, s"doc $id score")
    }
  }

  test("frozen semantic gate: stream contamination flags equal the batch arm") {
    import org.apache.spark.sql.Encoders
    implicit val vEnc = Encoders.product[StVec]
    implicit val sq = spark.sqlContext
    val train = fixtureEmb.filter(col("vec_id") % 40 =!= 0)
    val ref = fixtureEmb.filter(col("vec_id") % 40 === 0)
    val batch = graft.llm.Similarity.semanticDecontaminate(train, ref, 0.35)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val gate = graft.llm.Similarity.frozenSemanticGate(ref, 0.35)
    val rows = train.select("vec_id", "embedding").collect()
      .map(r => StVec(r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[StVec]
    val q = gate(mem.toDF()).writeStream
      .outputMode("append").format("memory").queryName("st_semgate")
      .trigger(Trigger.ProcessingTime(0)).start()
    rows.grouped(120).foreach { c => mem.addData(c.toSeq: _*); q.processAllAvailable() }
    val online = spark.table("st_semgate").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    q.stop()
    assert(online == batch)
    assert(batch.values.exists(identity) && batch.values.exists(!_))
  }
}
