package graft.ts

import org.apache.spark.sql.SparkSession

/** Canonical tick-stream column contract.
  *
  * A tick stream is a DataFrame with at least:
  *   - `key: String`  — the parallelism axis (csp basket key / symbol).
  *     Reference: dict baskets `Dict[K, ts[T]]` (reference
  *     `csp/baselib.py:554-580`) shard streams by key; Spark shards by
  *     partition on the same axis, which is what makes the design hold at
  *     100 TB — all per-stream operators are `partitionBy(key)` window or
  *     map-side operations, never a global sort.
  *   - `ts: Timestamp` — event time (engine time in the reference,
  *     `cpp/csp/engine/RootEngine.cpp:150-167` sim loop).
  *   - `seq: Long`     — engine-cycle disambiguator: total order within a
  *     key is `(ts, seq)`. Materializes csp's duplicate-timestamp cycle
  *     semantics (`docs/wiki/concepts/Execution-Modes.md`).
  *   - one or more value columns, `value` by default.
  */
object Tick {
  val KEY = "key"
  val TS = "ts"
  val SEQ = "seq"
  val VALUE = "value"

  /** Columns every tick stream carries; everything else is payload. */
  val meta: Seq[String] = Seq(KEY, TS, SEQ)
}

/** Session factory with the scale-appropriate defaults used everywhere
  * (tests, Verify, Bench). local[32] stands in for a multi-executor
  * cluster; shuffle partitions sized to cores, AQE on for runtime
  * re-planning (skew joins, partition coalescing at 100 TB).
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalesces post-shuffle partitions by BYTES (minPartitionSize
      // 1 MB default), but tick-stream window stages are compute-bound
      // per row: a filtered sub-stream a few MB wide still carries heavy
      // per-row work (array collects, policy algebra, stacked aggregates),
      // and byte-based coalescing was measured squeezing it onto 2 of 32
      // cores (q_values_at_range: 18% utilization). 256k (A/B'd against
      // 64k and the default) keeps genuinely tiny stages coalesced while
      // letting small-but-hot stages use the cluster; 64k over-splits
      // many-small-stage plans (q_sync, q_stats_reset regressed), and
      // large stages are governed by the advisory size as before.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the events table is written with nanosecond parquet timestamps;
      // Spark's TimestampType is microseconds. Reading NANOS as Long keeps
      // full fidelity (csp engine time is ns-capable, SURVEY §1.2); sources
      // derive a TimestampType column from it.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // fixture parquet may carry tz-less MICROS timestamps (isAdjustedToUTC
      // =false); Spark 4 infers those as TIMESTAMP_NTZ, which the whole
      // tick-time algebra (unix_micros & friends) rejects. Under the UTC
      // session timezone NTZ and LTZ are value-identical, so read them as
      // plain TIMESTAMP like every prior fixture generation.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // static conf, so it must land at session build: the default
      // generated-class cache holds 100 entries, and any workload cycling
      // through >100 distinct plans in one session (the interleaved
      // bench; a long-lived multi-query service) evicts every query's
      // classes between its own runs — each pass pays full Janino
      // recompilation. r19: 1000 was still too small — the full suite
      // compiles ~3k distinct fragments per pass (369 queries × ~8
      // codegen units), so at 1000 every pass re-Janino'd and re-JIT'd
      // everything: suite pass totals were flat (366/363/345 s) while
      // 5-pass ISOLATED reruns of the same queries ran ~2× faster warm
      // (canary block, bench/medians_r18.json). 8192 retains the whole
      // suite's classes (~tens of KB each — well under heap pressure;
      // GC measured at 1.6% of bench wall before the change).
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // every stateful streaming twin runs on transformWithState, which
      // requires the RocksDB state store
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // the per-micro-batch floor of a streaming twin is checkpoint file
      // writes: without libhadoop, Hadoop's local filesystem forks chmod /
      // stat / ls for every file (26–35 ms each). LocalCheckpointFileManager
      // writes file: checkpoints with java.nio, and changelog checkpointing
      // makes each state partition commit one small changelog file instead
      // of zipping and copying its SST files (snapshots move to background
      // maintenance)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.util.LocalCheckpointFileManager].getName)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
