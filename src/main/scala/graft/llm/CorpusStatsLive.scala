package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Live per-key corpus-health dashboard — the streaming twin of
  * [[CorpusStats.summary]] keyed by a slice column (language, source,
  * crawl): the table a 100 TB ingest watches per trigger to answer "how
  * much arrived per slice, how duplicated is it, is the shape drifting".
  *
  * Design (the [[graft.streaming.BehaviorStream.RfmLive]] shape — no
  * per-row streaming state at all): [[partials]] is ONE map-side-combined
  * grouped aggregate of MERGEABLE partials per key — doc count, token
  * sum, char sum, max ingest micros (all exact), plus an HLL sketch of
  * content fingerprints (`hll_sketch_agg`, the fixed-size register
  * array) — run as a `complete`-mode streaming aggregation. Spark's
  * state store carries the running per-key partials (sums / max /
  * sketch union are associative and commutative), and the query
  * checkpoint gives them durability, replay and retention like every
  * other twin; the sink [[foreachBatch]] publishes the derived snapshot.
  * At 1000 executors the per-trigger network is O(keys · sketch bytes):
  * the corpus text never shuffles and nothing is retained per document.
  *
  * Parity contract (spec-pinned): the exact columns (docs,
  * total_tokens, total_chars, last_micros) are BIT-IDENTICAL to one
  * batch aggregate over the union of all batches — long/decimal sums
  * and max are exact and associative, and both arms derive tokens and
  * fingerprints through the same [[TextAnalysis]] Catalyst expressions.
  * `distinct_fps` is an HLL ESTIMATE: the union-of-sketches is the
  * sketch the same registers would reach over the concatenated stream,
  * but the estimate is only guaranteed within the sketch's published
  * error (~1.04/√2^lgConfigK rel. std. error) of the batch count —
  * the spec checks that bound, not bits. `dup_rate_est` divides the two.
  *
  * Wiring:
  * {{{
  *   live.partials(docs).writeStream.outputMode("complete")
  *     .option("checkpointLocation", c).foreachBatch(live.foreachBatch _)
  * }}}
  * then read the latest snapshot from [[snapshot]]. */
final class CorpusStatsLive(keyCol: String, textCol: String, tsCol: String,
                            lgConfigK: Int = 12) {
  require(lgConfigK >= 4 && lgConfigK <= 21,
    s"lgConfigK $lgConfigK outside the HLL sketch's supported [4, 21]")

  @volatile private var latest: DataFrame = null

  /** The per-key partials (k, __docs, __toks, __chars, __mx, __fp) of
    * `docs`, on a batch DataFrame or a stream. */
  def partials(docs: DataFrame): DataFrame =
    docs.groupBy(col(keyCol).as("k")).agg(
      count(lit(1)).as("__docs"),
      sum(TextAnalysis.tokenCount(col(textCol))).cast("long").as("__toks"),
      sum(length(col(textCol)).cast("long")).as("__chars"),
      max(unix_micros(col(tsCol))).as("__mx"),
      hll_sketch_agg(TextAnalysis.fingerprint(col(textCol)),
        lit(lgConfigK)).as("__fp"))

  private def publish(next: DataFrame): Unit =
    latest = next.select(col("k").as(keyCol),
      col("__docs").as("docs"),
      col("__toks").as("total_tokens"),
      col("__chars").as("total_chars"),
      col("__mx").as("last_micros"),
      hll_sketch_estimate(col("__fp")).as("distinct_fps"),
      (col("__toks").cast("double") / col("__docs")).as("mean_tokens"),
      (col("__chars").cast("double") / col("__docs")).as("mean_chars"),
      greatest(lit(0.0), lit(1.0) -
        hll_sketch_estimate(col("__fp")).cast("double") /
          col("__docs")).as("dup_rate_est"))

  /** Sink over the `complete` output of [[partials]]: `table` is the
    * whole per-key table as of this batch. */
  def foreachBatch(table: DataFrame, batchId: Long): Unit = synchronized {
    // complete output is live only inside its batch: materialize it
    publish(table.localCheckpoint(true))
  }

  /** The per-key dashboard as of the last completed batch: (keyCol,
    * docs, total_tokens, total_chars, last_micros, distinct_fps,
    * mean_tokens, mean_chars, dup_rate_est). Same validity window as
    * RfmLive's snapshot: consume it within one batch, or `.collect()`
    * it. */
  def snapshot: DataFrame = {
    val l = latest
    require(l != null, "CorpusStatsLive: no batch processed yet")
    l
  }
}
