package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-phrase blocklist matching at corpus scale — the "drop documents
  * containing any of these N phrases" gate (spam markers, boilerplate
  * signatures, policy terms). The naive form — a `contains` chain or an
  * alternation regex — is O(N) regex work per document and stops being a
  * projection the moment the list outgrows a literal; these shapes keep
  * the cost one corpus pass regardless of list size.
  *
  * Two arms, same verdicts:
  *  - [[phraseFlags]]: SMALL lists (≲ a few hundred) — per-row array
  *    algebra over the doc's n-grams vs a literal phrase array. Pure
  *    projection, zero shuffle, the composed-curation shape.
  *  - [[phraseHits]]: LARGE lists — the doc's n-grams (one fused
  *    projection for every distinct phrase length, as in
  *    [[CorpusStats]]) joined against the BROADCAST phrase table, then
  *    one per-doc count. Explode preserves the scan's partitioning, so
  *    the partial aggregate collapses each doc map-side and the single
  *    Exchange moves one row per MATCHED doc — never the corpus.
  *
  * Matching is case-insensitive on whitespace-token boundaries (phrase
  * "lorem ipsum" matches the token bigram, not substrings inside words).
  */
object Blocklist {

  private def normPhrase(p: String): Seq[String] =
    p.toLowerCase.trim.split("\\s+").toSeq

  /** Tagged (len, gram) arrays for every distinct phrase length, built in
    * one projection over the lowercased tokens. */
  private def gramsFor(text: Column, lengths: Seq[Int]): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    val perN = lengths.map { n =>
      // a doc shorter than the phrase cannot match it → empty gram set
      val grams = when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      transform(grams, g => struct(lit(n).as("n"), g.as("g")))
    }
    flatten(array(perN: _*))
  }

  /** Hashed twin of [[gramsFor]]: per-token xxhash64 once, then the
    * chained [[graft.functions.VectorExprs.NgramHash]] mix per length —
    * no gram STRINGS are ever built (string construction dominates the
    * gram stage, the same measurement as Dedup's hashed-shingle arm) and
    * the join key is 8 bytes instead of the gram text. */
  private def gramHashesFor(text: Column, lengths: Seq[Int]): Column = {
    val tokHashes = transform(TextAnalysis.tokens(lower(text)), t => xxhash64(t))
    val perN = lengths.map { n =>
      val hs = when(size(tokHashes) < n, array().cast("array<bigint>"))
        .otherwise(graft.functions.VectorExprs.ngramHash(tokHashes, n))
      transform(hs, h => struct(lit(n).as("n"), h.as("g")))
    }
    flatten(array(perN: _*))
  }

  /** Small-list arm: adds `hits` (matching n-gram occurrences) and
    * `flagged` (hits > 0) as a pure projection — the phrase list rides
    * as a literal array. */
  def phraseFlags(df: DataFrame, textCol: String,
                  phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phrases must be non-empty")
    val norm = phrases.map(normPhrase).map(ts => (ts.length, ts.mkString(" ")))
    val lengths = norm.map(_._1).distinct.sorted
    val lits = array(norm.map { case (n, p) =>
      struct(lit(n).as("n"), lit(p).as("g")) }: _*)
    val grams = gramsFor(col(textCol), lengths)
    // hits is LONG to match phraseHits' count() — the two arms are
    // interchangeable by list size, so they must emit the same schema
    df.withColumn("hits",
        size(filter(grams, e => array_contains(lits, e))).cast("long"))
      .withColumn("flagged", col("hits") > 0)
  }

  /** Large-list arm: per-doc occurrence counts against a phrase FRAME
    * (one string column `phraseCol`), broadcast to the gram join.
    * Returns only matched docs — (idCol, hits); compose with a left
    * anti join (see [[filterPhrases]]) to drop them, or a left join to
    * annotate the corpus.
    *
    * `hashed = true` joins 8-byte chained token-hash grams instead of
    * gram strings ([[gramHashesFor]]) — the at-scale default once the
    * oracle doesn't need to replay the gram text (a cross-length hash
    * collision mis-flagging a doc is a ~n·|phrases|/2^64 event;
    * spec-proven verdict-identical on the fixture corpus). */
  def phraseHits(df: DataFrame, idCol: String, textCol: String,
                 phrases: DataFrame, phraseCol: String = "phrase",
                 hashed: Boolean = false): DataFrame = {
    val toksOf = TextAnalysis.tokens(lower(trim(col(phraseCol))))
    val norm = phrases.select(toksOf.as("__ts"))
      .select(size(col("__ts")).as("n"), concat_ws(" ", col("__ts")).as("g"))
      .distinct()
    // distinct phrase lengths: a tiny driver-side collect of the SMALL
    // side (same bound as the broadcast itself)
    val lengths = norm.select("n").distinct().collect().map(_.getInt(0)).toSeq.sorted
    require(lengths.nonEmpty, "phrases must be non-empty")
    val (docGrams, phraseSide) =
      if (!hashed) (gramsFor(col(textCol), lengths), norm)
      else {
        // phrase-side hashes per distinct length (NgramHash's n is a
        // literal); len == n ⇒ exactly one chained hash per phrase
        val hnorm = lengths.map { n =>
          phrases.select(toksOf.as("__ts")).filter(size(col("__ts")) === n)
            .select(lit(n).as("n"), element_at(graft.functions.VectorExprs
              .ngramHash(transform(col("__ts"), t => xxhash64(t)), n), 1).as("g"))
        }.reduce(_ unionByName _).distinct()
        (gramHashesFor(col(textCol), lengths), hnorm)
      }
    graft.util.Parallelism.fanOut(df)
      .select(col(idCol), explode(docGrams).as("__e"))
      .select(col(idCol), col("__e.n").as("n"), col("__e.g").as("g"))
      .join(broadcast(phraseSide), Seq("n", "g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("hits"))
  }

  /** The gate: corpus minus every doc with a phrase hit (left anti join
    * against the matched-doc ids — the small side at any sane hit
    * rate). */
  def filterPhrases(df: DataFrame, idCol: String, textCol: String,
                    phrases: DataFrame, phraseCol: String = "phrase"): DataFrame =
    df.join(phraseHits(df, idCol, textCol, phrases, phraseCol)
      .select(col(idCol)), Seq(idCol), "left_anti")
}
