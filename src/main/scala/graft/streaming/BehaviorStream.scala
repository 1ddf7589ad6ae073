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
    * twin needs no per-row streaming state for the banding at all —
    * each micro-batch folds its per-unit partial aggregates into a
    * running per-unit table (all three aggregates are mergeable: max
    * event micros, count, exact DECIMAL spend), then re-resolves the
    * 3·(q−1) boundaries on the refreshed table and publishes the full
    * banded snapshot. Boundaries ride [[graft.operators.Selection]]'s
    * aggregate-only scans (broadcast-refresh shape — a few literals,
    * no state store), so a 100 TB live leaderboard re-resolves bands
    * with O(kB·rounds) network per trigger.
    *
    * Wire into `events.writeStream.foreachBatch(live.foreachBatch _)`;
    * read the latest banded table from [[RfmLive.snapshot]]. The
    * running per-unit table is local-checkpointed each batch (lineage
    * truncation + the materialization [[Selection.orderStatistics]]
    * needs). When the unit universe outgrows one cluster's cache (or
    * the leaderboard must survive a restart), pass `storePath=`: the
    * per-unit table then lives as versioned parquet under that path.
    *
    * Durable-arm commit protocol (VERDICT r17 #1 — object-store-real,
    * all I/O through the Hadoop `FileSystem` API resolved from the
    * batch session's configuration, so `file:`/`hdfs:`/`s3a:` URIs
    * all work): each batch reads the LATEST COMMITTED version, merges
    * its partials, writes `v{batchId}`, then creates the single-file
    * `_COMMITTED` marker inside it — the marker create is the commit
    * point (no rename-overwrite, which is neither atomic nor portable
    * on object stores; no pointer file a crash window could lose). A
    * crash before the marker leaves the previous version committed
    * and the batch replays; a crash AFTER the marker but before the
    * streaming offset log advances makes Spark re-run the same
    * batchId — the marker makes that re-run a NO-OP (the merge is
    * skipped; the committed snapshot is re-published), so replays can
    * never double-count (ADVICE r17). Retention: after each commit
    * the `keepVersions` highest committed versions are kept and every
    * older version dir (committed or crash debris) is deleted, so a
    * long-running leaderboard holds O(keepVersions) copies, not one
    * per batch.
    *
    * SINGLE-WRITER assumption: exactly one streaming query (one
    * checkpointed writer) owns a store path — the protocol does not
    * arbitrate concurrent writers. Restart-resume requires the
    * batchIds to continue monotonically across restarts (i.e. the
    * query runs with a checkpointLocation, Spark's normal
    * foreachBatch contract); a fresh query whose batchIds restart at
    * 0 must use a fresh store path.
    *
    * Parity contract (spec-pinned): because the merged per-unit
    * aggregates are exactly the batch aggregates (decimal addition is
    * exact and associative; max/count trivially so) and
    * [[graft.operators.Behavior.rfmScores]] is a pure projection over
    * the boundary literals, the snapshot after the last batch is
    * BIT-IDENTICAL to `Behavior.rfm` over the same events. */
  final class RfmLive(userCol: String, tsCol: String, typeCol: String,
                      valueCol: String, convType: String,
                      nowMicros: Long, q: Int,
                      storePath: Option[String] = None,
                      keepVersions: Int = 3) {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._

    // the version/commit/replay/vacuum machinery lives in the shared
    // util (VERDICT r18 #7 — extracted when CorpusStatsLive became its
    // second consumer); the keepVersions >= 2 floor (ADVICE r18) is
    // enforced there
    private val durable: Option[graft.util.DurableVersionedStore] =
      storePath.map(p => new graft.util.DurableVersionedStore(p, keepVersions))

    @volatile private var store: DataFrame = null // (u, __mx, __cnt, __sm)
    @volatile private var latest: DataFrame = null

    /** Refresh the published snapshot off the new per-unit table. */
    private def publish(next: DataFrame): Unit = {
      store = next
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

    def foreachBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      val spark = batch.sparkSession
      // durable arm: replay detection FIRST — a committed version at
      // or past this batchId means Spark is re-running a batch whose
      // merge already committed (crash between the marker create and
      // the offset-log advance); merging again would double-count
      // __cnt/__sm, so re-publish the committed snapshot and stop
      durable.foreach { d =>
        d.replayedSnapshot(spark, batchId).foreach { committed =>
          publish(committed)
          return
        }
      }
      val part = batch.filter(col(typeCol) === convType)
        .groupBy(col(userCol).as("u"))
        .agg(max(unix_micros(col(tsCol))).as("__mx"),
          count(lit(1)).as("__cnt"),
          sum(col(valueCol).cast("decimal(18,2)")).as("__sm"))
      // __sm is carried at decimal(28,2) — the exact type batch rfm's
      // sum(decimal(18,2)) produces — so the live total saturates at
      // the SAME bound as the batch arm (a (18,2) re-cast here would
      // null a >10^16 spend the batch arm still represents)
      val widened = part.withColumn("__sm", col("__sm").cast("decimal(28,2)"))
      val prev = durable match {
        case Some(d) => d.latestCommitted(spark).map(_.select(col("u"),
          col("__mx"), col("__cnt"),
          col("__sm").cast("decimal(28,2)").as("__sm")))
        case None => Option(store)
      }
      val merged = prev match {
        case None => widened
        case Some(st) => st.unionByName(widened).groupBy("u")
          .agg(max(col("__mx")).as("__mx"), sum(col("__cnt")).as("__cnt"),
            sum(col("__sm")).cast("decimal(28,2)").as("__sm"))
      }
      val next = durable match {
        case Some(d) =>
          // durable keyed upsert: version write + _COMMITTED marker +
          // vacuum, all in the shared store; the returned frame reads
          // the committed files, so cluster cache holds nothing
          // between batches
          d.commit(merged, batchId)
        case None =>
          // eager local checkpoint: truncates cross-batch lineage AND
          // materializes the table orderStatistics scans several times;
          // dropping the previous store reference lets the
          // ContextCleaner evict its checkpoint blocks (no manual
          // unpersist — a reader may still hold the previous snapshot
          // for one batch)
          merged.localCheckpoint(true)
      }
      publish(next)
    }

    /** The banded table as of the last completed batch.
      *
      * Validity window (in-memory arm): the returned frame reads the
      * CURRENT store checkpoint, and the store reference drops one
      * batch later — so a snapshot held across TWO OR MORE subsequent
      * batches may lose its checkpoint blocks to the ContextCleaner
      * (ADVICE r16). Consume it within one batch, `.collect()` it, or
      * construct the leaderboard with `storePath=`.
      *
      * Validity window (durable arm): the snapshot lazily reads the
      * version committed by the last batch, and retention keeps only
      * the `keepVersions` highest committed versions — so a held
      * snapshot expires after `keepVersions - 1` further batches
      * commit (its backing dir is vacuumed). Consume within that
      * window, or materialize first (`.collect()` /
      * `.localCheckpoint(true)`) for an unbounded hold.
      *
      * The durable `_COMMITTED`-marker protocol lives in the shared
      * [[graft.util.DurableVersionedStore]] (extracted per VERDICT r18
      * #7 when [[graft.llm.CorpusStatsLive]] became its second
      * consumer). */
    def snapshot: DataFrame = {
      val l = latest
      require(l != null, "RfmLive: no batch processed yet")
      l
    }
  }
}
