package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** Live twin of [[graft.operators.Behavior.funnel]]: a per-user funnel
  * state machine over [[TwsOps.foldByKey]] — the realtime "has this
  * user converted yet" readout, emitting one row the moment a user
  * advances a step.
  *
  * Equivalence contract (the repo's sim-mode discipline): with in-order
  * event delivery, greedily taking the FIRST qualifying occurrence of
  * the next step equals the batch arm's earliest-qualifying-time
  * semantics (min over t ≥ t_prev within the deadline), so the advance
  * log aggregates to exactly the batch funnel's counts and lag sums.
  * Same-timestamp ties process in step order (a view and a click at the
  * same microsecond advance the view first — matching batch `>=`).
  * State is one (stage, t1, tPrev) triple per user — O(users), no
  * buffering. */
object BehaviorStream {
  case class FunnelEvent(user: Long, tsMicros: Long, step: String)
  case class FunnelState(stage: Int, t1: Long, tPrev: Long)
  case class FunnelAdvance(user: Long, stage: Int, tsMicros: Long, lagUs: Long)

  def funnelStream(events: Dataset[FunnelEvent], steps: Seq[String],
                   windowSec: Long): Dataset[FunnelAdvance] = {
    implicit val stEnc = Encoders.product[FunnelState]
    implicit val outEnc = Encoders.product[FunnelAdvance]
    implicit val keyEnc = Encoders.scalaLong
    val stepIdx = steps.zipWithIndex.toMap
    val deadline = windowSec * 1000000L
    TwsOps.foldByKey(events, (_: FunnelEvent).user, OutputMode.Append()) {
      (user: Long, it: Iterator[FunnelEvent], prev: Option[FunnelState]) =>
        var st = prev.getOrElse(FunnelState(-1, 0L, 0L))
        val out = scala.collection.mutable.ArrayBuffer[FunnelAdvance]()
        it.toSeq
          .filter(e => stepIdx.contains(e.step))
          .sortBy(e => (e.tsMicros, stepIdx(e.step)))
          .foreach { e =>
            val next = st.stage + 1
            if (next < steps.length && e.step == steps(next)) {
              val qualifies =
                if (st.stage < 0) true
                else e.tsMicros >= st.tPrev && e.tsMicros <= st.t1 + deadline
              if (qualifies) {
                val t1 = if (st.stage < 0) e.tsMicros else st.t1
                st = FunnelState(next, t1, e.tsMicros)
                out += FunnelAdvance(user, next, e.tsMicros, e.tsMicros - t1)
              }
            }
          }
        (Some(st), out.iterator)
    }
  }

  /** Live RFM leaderboard — the streaming boundary refresh for the
    * selection-backed banding family (VERDICT r15 #5): rfm / gains /
    * timeToConvert resolve a handful of boundary LITERALS, so a live
    * twin needs no per-row streaming state for the banding at all. The
    * per-unit partials (max event micros, count, exact DECIMAL spend —
    * all mergeable) are ONE grouped aggregate, [[partials]], run as a
    * `complete`-mode streaming aggregation: Spark's state store carries
    * the running per-unit table, and the query checkpoint gives it
    * durability, replay and retention like every other twin. Each
    * micro-batch's sink, [[foreachBatch]], re-resolves the 3·(q−1)
    * boundaries on the refreshed table and publishes the full banded
    * snapshot. Boundaries ride [[graft.operators.Selection]]'s
    * aggregate-only scans (broadcast-refresh shape — a few literals),
    * so a 100 TB live leaderboard re-resolves bands with O(kB·rounds)
    * network per trigger.
    *
    * Wiring:
    * {{{
    *   live.partials(events).writeStream.outputMode("complete")
    *     .option("checkpointLocation", c).foreachBatch(live.foreachBatch _)
    * }}}
    * then read the latest banded table from [[RfmLive.snapshot]].
    *
    * Parity contract (spec-pinned): the per-unit aggregates are exactly
    * the batch aggregates (decimal addition is exact and associative;
    * max/count trivially so) and [[graft.operators.Behavior.rfmScores]]
    * is a pure projection over the boundary literals, so the snapshot
    * after the last batch is BIT-IDENTICAL to `Behavior.rfm` over the
    * same events. */
  final class RfmLive(userCol: String, tsCol: String, typeCol: String,
                      valueCol: String, convType: String,
                      nowMicros: Long, q: Int) {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._

    @volatile private var latest: DataFrame = null

    /** The per-unit partials (u, __mx, __cnt, __sm) of `events`, on a
      * batch DataFrame or a stream. `__sm` is sum(decimal(18,2)), i.e.
      * decimal(28,2) — the exact type batch rfm produces — so the live
      * total saturates at the SAME bound as the batch arm. */
    def partials(events: DataFrame): DataFrame =
      events.filter(col(typeCol) === convType)
        .groupBy(col(userCol).as("u"))
        .agg(max(unix_micros(col(tsCol))).as("__mx"),
          count(lit(1)).as("__cnt"),
          sum(col(valueCol).cast("decimal(18,2)")).as("__sm"))

    /** Refresh the published snapshot off the per-unit table. */
    private def publish(next: DataFrame): Unit = {
      val per = next.select(col("u"),
        floor((lit(nowMicros) - col("__mx")) / lit(86400000000.0)).as("recency_days"),
        col("__cnt").as("frequency"), col("__sm").cast("double").as("monetary"))
      latest = graft.operators.Behavior.rfmScores(per, next.count(), q)
      // rfmScores resolves its boundaries EAGERLY (they are literals in
      // `latest`), so the persist barriers its orderStatistics call
      // registered on THIS streaming thread are already consumed —
      // release them here or they pin cache forever (the registry is
      // per-thread; no other thread can release them, and `latest`
      // does not reference them)
      graft.util.Caching.release()
    }

    /** Sink over the `complete` output of [[partials]]: `table` is the
      * whole per-unit table as of this batch. */
    def foreachBatch(table: DataFrame, batchId: Long): Unit = synchronized {
      // complete output is live only inside its batch: the eager local
      // checkpoint materializes it for the snapshot and for the several
      // scans orderStatistics makes
      publish(table.localCheckpoint(true))
    }

    /** The banded table as of the last completed batch.
      *
      * Validity window: the returned frame reads the local checkpoint
      * of the batch that published it, and a later batch replaces it —
      * so a snapshot held across TWO OR MORE subsequent batches may lose
      * its checkpoint blocks to the ContextCleaner (ADVICE r16). Consume
      * it within one batch, or `.collect()` it. */
    def snapshot: DataFrame = {
      val l = latest
      require(l != null, "RfmLive: no batch processed yet")
      l
    }
  }
}
