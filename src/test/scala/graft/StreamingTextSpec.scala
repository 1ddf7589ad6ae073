package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{HeavyHitters, LineDedup, StreamingText}

/** Text doc row (top-level for the encoder). */
case class StDoc(doc_id: Long, text: String)
/** Line row (top-level for the encoder). */
case class StLine(doc_id: Long, pos: Long, line: String)
/** Page row for the robots-gate parity test. */
case class StPage(page_id: Long, host: String, path: String)

/** Online twins of the stateful round-10 text operators: banded
  * Misra–Gries heavy-hitter tracking and arrival-time line-boilerplate
  * flags — each checked against its oracle-green batch form's guarantees
  * after a full replay. */
class StreamingTextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("online Misra–Gries: final snapshots are a superset of heavy terms and recover the exact top-k") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[StDoc]
    val rnd = new scala.util.Random(17)
    // zipf-ish: term_j drawn with weight 1/(j+1); clear top-5 margin
    val vocab = (0 until 60).map(j => s"t$j")
    val weights = vocab.indices.map(j => 1.0 / (j + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def draw(): String = { val u = rnd.nextDouble() * total; vocab(cum.indexWhere(u < _)) }
    val docs = (0L until 120L).map(i => StDoc(i, Seq.fill(30)(draw()).mkString(" ")))
    val batchDf = spark.createDataset(docs).toDF()

    val exact = HeavyHitters.topTerms(batchDf, "text", 1000)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val m = 64; val bands = 4

    // the summaries cross two seeded kills
    val snaps = RestartParity.run(docs, seed = 217, batches = 5)(
        ds => StreamingText.mgTopTerms(ds.toDF(), "text", m = m, bands = bands))
      .map(s => (s.band, s.gen, s.term, s.mgCount))

    // latest generation per band is the live summary
    val lastGen = snaps.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val live = snaps.filter { case (b, g, _, _) => g == lastGen(b) }
      .map { case (_, _, t, c) => t -> c }.toMap

    // per-band guarantee: every term with count > n_band/m survives; the
    // fixture's per-band mass ≤ n, so count > n/m is a sufficient check
    exact.filter(_._2 > n / m).keys.foreach(t =>
      assert(live.contains(t), s"online MG dropped heavy term $t (count ${exact(t)})"))
    // MG counts never exceed the truth
    live.foreach { case (t, c) =>
      assert(c <= exact.getOrElse(t, 0L), s"MG overcounted $t: $c > ${exact.getOrElse(t, 0L)}") }
    // ranking by MG count recovers the exact top-5 on this margin
    val top5 = live.toSeq.sortBy { case (t, c) => (-c, t) }.take(5).map(_._1).toSet
    assert(top5 == exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(5).map(_._1).toSet)
  }

  test("corpus-health sketch runs as a live streaming aggregate, bounded vs exact") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[StDoc]
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val docs = (0L until 200L).map(i =>
      StDoc(i, Seq.fill(5 + rnd.nextInt(40))(s"w${rnd.nextInt(30)}").mkString(" ")))
    val batchDf = spark.createDataset(docs).toDF()
    val exact = graft.llm.CorpusStats.summary(batchDf, "text").collect()(0)

    val mem = MemoryStream[StDoc]
    // complete mode: the one-row health summary re-emits per micro-batch —
    // the live corpus dashboard (HLL + quantile-summary state is bounded)
    val q = graft.llm.CorpusStats.summarySketch(mem.toDF(), "text")
      .writeStream.outputMode("complete").format("memory").queryName("st_health")
      .trigger(Trigger.ProcessingTime(0)).start()
    docs.grouped(23).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val live = spark.table("st_health").collect()(0)
    q.stop()

    assert(live.getAs[Long]("docs") == exact.getAs[Long]("docs"))
    assert(live.getAs[Long]("total_tokens") == exact.getAs[Long]("total_tokens"))
    val exactFps = exact.getAs[Long]("distinct_fps").toDouble
    assert(math.abs(live.getAs[Long]("distinct_fps") - exactFps) <= 0.1 * exactFps)
    assert(math.abs(live.getAs[Double]("median_tokens") - exact.getAs[Double]("median_tokens")) <= 3.0)
    assert(live.getAs[Double]("mean_chars") == exact.getAs[Double]("mean_chars"))
  }

  test("online line flags: monotone, and the flagged set == batch blocklist after replay") {
    import org.apache.spark.sql.Encoders
    implicit val lEnc = Encoders.product[StLine]
    val boiler = "all rights reserved"
    val lines =
      (0L until 20L).flatMap(d => Seq(
        StLine(d, 0L, s"unique lead $d"),
        StLine(d, 1L, if (d % 2 == 0) boiler else s"unique body $d"),
        StLine(d, 2L, if (d % 5 == 0) "subscribe now" else s"unique tail $d")))
    val linesDf = spark.createDataset(lines).toDF()

    val batchKept = LineDedup.keptLines(linesDf, "doc_id", "pos", "line", maxDocs = 2)
      .select("line").distinct().collect().map(_.getString(0)).toSet
    val batchBlocked = linesDf.select("line").distinct()
      .collect().map(_.getString(0)).toSet -- batchKept

    // kill after the boilerplate line saturates (its third doc, doc 4) and
    // before its last arrival: the saturated state must survive the restart
    val (seed, batches, killAt) = (332L, 7, Set(2))
    val (cuts, _) = RestartParity.plan(lines.size, seed, batches, killAt = killAt)
    val resume = cuts(killAt.head + 1)
    assert(resume > lines.indexOf(StLine(4L, 1L, boiler)) &&
      resume <= lines.lastIndexWhere(_.line == boiler))
    val flags = RestartParity.run(lines, seed, batches = batches, killAt = killAt)(
        ds => StreamingText.lineFlags(ds.toDF(), "doc_id", "pos", "line", maxDocs = 2))
      .map(f => (f.docId, f.pos, f.line, f.boilerplate))

    assert(flags.length == lines.length) // one flag per arriving line
    // monotone per line: once boilerplate, every later arrival is too
    flags.groupBy(_._3).foreach { case (_, fs) =>
      val ordered = fs.sortBy(f => (f._1, f._2)).map(_._4)
      assert(!ordered.zip(ordered.tail).exists { case (a, b) => a && !b })
    }
    // the set of lines ever flagged equals the batch blocklist
    val everFlagged = flags.filter(_._4).map(_._3).toSet
    assert(everFlagged == batchBlocked)
    // and the early-arrival prefix is the ONLY divergence from batch:
    // kept-flagged occurrences of blocked lines are all before saturation
    val blockedOccurrences = flags.filter(f => batchBlocked(f._3))
    assert(blockedOccurrences.count(!_._4) <= batchBlocked.size * 2) // ≤ maxDocs per line
  }

  test("stateless normalization + C4 cleaning run unchanged on a stream, bit-equal to batch") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[StDoc]
    implicit val sq = spark.sqlContext
    val docs = Seq(
      StDoc(1L, "<p>This is a &quot;good&quot; sentence.</p>\nno punct line\n<b>Another fine line here.</b>"),
      StDoc(2L, "all lines die javascript.\nshort."),
      StDoc(3L, "a &amp; b stays here fine.\na &amp; b stays here fine."))
    def pipeline(df: org.apache.spark.sql.DataFrame) = {
      val normalized = df.withColumn("text",
        // per-LINE normalization: cleanWeb collapses newlines, so strip
        // markup inside each line and keep the line structure
        array_join(transform(split(col("text"), "\n"),
          l => graft.llm.Normalize.cleanWeb(l)), "\n"))
      graft.llm.Curation.c4Clean(
        graft.llm.Curation.dropRepeatedLines(normalized, "text"),
        "text", minWords = 3, minLines = 1, blocklist = Seq("javascript"))
    }
    val batch = pipeline(spark.createDataset(docs).toDF())
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val mem = MemoryStream[StDoc]
    val q = pipeline(mem.toDF()).writeStream
      .outputMode("append").format("memory").queryName("st_norm")
      .trigger(Trigger.ProcessingTime(0)).start()
    docs.grouped(2).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val online = spark.table("st_norm").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    assert(online == batch)
    assert(batch.exists(_._2.contains("\"good\""))) // entities really unescaped
    assert(!batch.exists(_._1 == 2L)) // doc 2 fully cleaned away on both paths
  }

  test("phrase blocklist + domain filter run unchanged on a stream, verdicts == batch") {
    // both arms are stateless per row (phraseFlags: literal-array
    // projection; domainFilter: projection filter), so like
    // Relevance.frozenScorer they lift to streams with NO state store —
    // each micro-batch gets the same verdicts the batch pipeline gives
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[StDoc]
    implicit val sq = spark.sqlContext
    val docs = Seq(
      StDoc(1L, "the key agg value and KEY AGG again http://ok.org/p"),
      StDoc(2L, "clean text with a link https://spam.example\nmore"),
      StDoc(3L, "a row fast merge, no urls"),
      StDoc(4L, "nothing flagged here at all"))
    val phrases = Seq("key agg", "a row fast")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      graft.llm.UrlStats.domainFilter(
        graft.llm.Blocklist.phraseFlags(df, "text", phrases),
        "text", Seq("spam.example"))
        .select(col("doc_id"), col("hits"), col("flagged"))
    val batch = verdicts(spark.createDataset(docs).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val mem = MemoryStream[StDoc]
    val q = verdicts(mem.toDF()).writeStream
      .outputMode("append").format("memory").queryName("st_blocklist")
      .trigger(Trigger.ProcessingTime(0)).start()
    docs.grouped(2).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val online = spark.table("st_blocklist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    q.stop()
    assert(online == batch)
    assert(batch == Set((1L, 2L, true), (3L, 1L, true), (4L, 0L, false)),
      s"unexpected verdicts: $batch") // doc 2 dropped by the domain filter

    // the broadcast-join arm (phraseHits) also runs per micro-batch:
    // stream-static joins broadcast the static phrase frame each batch
    import spark.implicits._
    val phraseDf = phrases.toDF("phrase")
    val batchHits = graft.llm.Blocklist.phraseHits(
      spark.createDataset(docs).toDF(), "doc_id", "text", phraseDf)
      .as[(Long, Long)].collect().toSet
    val mem2 = MemoryStream[StDoc]
    val q2 = graft.llm.Blocklist.phraseHits(mem2.toDF(), "doc_id", "text", phraseDf)
      .writeStream.outputMode("update").format("memory").queryName("st_phrasehits")
      .trigger(Trigger.ProcessingTime(0)).start()
    docs.grouped(2).foreach { c => mem2.addData(c: _*); q2.processAllAvailable() }
    val onlineHits = spark.table("st_phrasehits")
      .groupBy("doc_id").agg(max("hits").as("hits"))
      .as[(Long, Long)].collect().toSet
    q2.stop()
    assert(onlineHits == batchHits, s"stream $onlineHits vs batch $batchHits")
  }

  test("frozen LogReg scorer: stream logits bit-equal the training-run logits") {
    import org.apache.spark.sql.Encoders
    implicit val dEnc = Encoders.product[StDoc]
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val docs = (0L until 24L).map { i =>
      StDoc(i, if (i % 2 == 0) "good clean fine good good text" else "spam junk spam bad text")
    }
    val df = spark.createDataset(docs).toDF()
    val labeled = df.withColumn("y", col("doc_id") % 2 === 0)
    val batchLogits = graft.llm.LogReg.fitScore(labeled, "text", "doc_id", $"y",
        iters = 4, lr = 0.3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val model = graft.llm.LogReg.fit(labeled, "text", "doc_id", $"y", iters = 4, lr = 0.3)
    // batch serving: bit-equal (the fold replays count×weight in the
    // same token-sorted order; 'good' ×3 exercises the count path)
    val served = df.select($"doc_id", graft.llm.LogReg.frozenScorer(model)($"text").as("z"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(served == batchLogits)
    // stream serving: the same pure projection on arriving docs
    val mem = MemoryStream[StDoc]
    val q = mem.toDF().select(col("doc_id"), graft.llm.LogReg.frozenScorer(model)(col("text")).as("z"))
      .writeStream.outputMode("append").format("memory").queryName("st_logreg")
      .trigger(Trigger.ProcessingTime(0)).start()
    docs.grouped(7).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = spark.table("st_logreg").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    q.stop()
    assert(stream == batchLogits)
  }

  test("robots gate runs per micro-batch == batch (broadcast rules, arriving pages)") {
    import org.apache.spark.sql.Encoders
    implicit val pEnc = Encoders.product[StPage]
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val robots = Seq(
      ("a.example", "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"))
      .toDF("rhost", "txt")
    val pages = (0L until 18L).map { i =>
      val host = if (i % 3 == 2) "b.example" else "a.example" // b: no capture
      val path = (i % 3) match {
        case 0 => s"/page/$i"
        case 1 => s"/private/$i"
        case _ => s"/private/$i" // capture-less host: allowed anyway
      }
      StPage(i, host, path)
    }
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.llm.UrlStats.robotsFilter(df, "host", "path", robots, "rhost", "txt")
    val batch = gate(spark.createDataset(pages).toDF())
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap

    val mem = MemoryStream[StPage]
    val q = gate(mem.toDF()).writeStream
      .outputMode("append").format("memory").queryName("st_robots")
      .trigger(Trigger.ProcessingTime(0)).start()
    pages.grouped(5).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
    val stream = spark.table("st_robots").collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    q.stop()

    assert(stream == batch && batch.size == pages.size)
    assert(batch(0L) && !batch(1L) && batch(2L)) // allow / disallow / no-capture
  }
}
