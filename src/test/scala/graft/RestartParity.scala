package graft

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Restart-parity harness for the streaming twins. csp promises that a
  * realtime run and a simulation run of one graph agree
  * (`Execution-Modes.md`), and a realtime engine that restarts must keep
  * that promise: [[run]] feeds a twin its input in micro-batches cut at
  * seeded positions, stops the query at seeded kill points, restarts it
  * from its checkpoint (committed offsets + RocksDB state) and returns
  * everything it emitted, for the caller to compare with the batch arm. */
object RestartParity {

  /** Run `twin` over `rows` — already in the twin's fold order — as
    * `batches` micro-batches whose cut points are drawn from `seed`.
    * After `kills` seeded batches (never the last) the query stops, the
    * next batch is added while it is down, and a new query resumes from
    * the same checkpoint. Returns every emitted row, batch by batch in
    * emission order; a batch that a restart replays replaces its first
    * delivery, as an idempotent sink keyed by batch id would.
    * `killAt` names the kill points (batch indices) instead of drawing
    * them; `onRestart` runs on the checkpoint directory while the query is
    * down, before it resumes. */
  def run[I: Encoder, O](rows: Seq[I], seed: Long, outputMode: String = "append",
                         batches: Int = 6, kills: Int = 2, killAt: Set[Int] = Set.empty,
                         onRestart: java.io.File => Unit = _ => ())(
      twin: Dataset[I] => Dataset[O]): Seq[O] = {
    implicit val sq = TestSpark.spark.sqlContext
    val rnd = new scala.util.Random(seed)
    val n = math.min(batches, rows.size)
    require(kills < n, s"$kills kill points need more than $n batches")
    val cuts = 0 +: rnd.shuffle((1 until rows.size).toList).take(n - 1).sorted :+ rows.size
    val killAfter =
      if (killAt.nonEmpty) killAt else rnd.shuffle((0 until n - 1).toList).take(kills).toSet
    require(killAfter.forall(i => i >= 0 && i < n - 1), s"kill points $killAfter outside 0 until ${n - 1}")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-restart").toFile
    val emitted = mutable.TreeMap.empty[Long, Seq[O]]
    val mem = MemoryStream[I]
    def start(): StreamingQuery = twin(mem.toDS()).writeStream.outputMode(outputMode)
      .foreachBatch { (ds: Dataset[O], id: Long) =>
        val got = ds.collect().toSeq
        emitted.synchronized { emitted(id) = got }; ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0)).start()
    var q: StreamingQuery = null
    try {
      cuts.zip(cuts.tail).zipWithIndex.foreach { case ((lo, hi), i) =>
        mem.addData(rows.slice(lo, hi): _*)
        if (q == null) q = start() // resume from the checkpoint
        q.processAllAvailable()
        if (killAfter(i)) { q.stop(); q = null; onRestart(ckpt) }
      }
    } finally {
      if (q != null) q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
    }
    emitted.synchronized(emitted.values.flatten.toList)
  }

  /** An Update-mode twin's answer: the last row emitted per key (or
    * window). */
  def lastPer[O, K](out: Seq[O])(key: O => K): Map[K, O] =
    out.groupBy(key).map { case (k, rs) => k -> rs.last }

  /** Bit-equality of doubles, NaN equal to NaN. */
  def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)
}
