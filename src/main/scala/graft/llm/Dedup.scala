package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Deduplication operators for training-data pipelines, each designed
  * around its 100 TB shuffle shape:
  *
  *  - exact: groupBy(content hash) — one shuffle keyed by a 128-bit hash,
  *    perfectly balanced (hash keys), then keep-first.
  *  - MinHash + LSH: signature computation is a map-side projection; the
  *    only shuffle is the band-bucket explode (b rows/doc), and candidate
  *    verification touches just same-bucket groups — never the n² pairs.
  *  - SimHash: map-side 64-bit signature; near-dup = same signature bucket
  *    (or banded sub-keys for hamming>0 tolerance).
  *  - n-gram Jaccard: exact verifier over candidate pairs only.
  */
object Dedup {

  /** Exact dedup: one representative (min id) per normalized content.
    * Returns (id, canonical_id); rows where id != canonical_id are dups. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    df.select(col(idCol), fp.as("fp"))
      .withColumn("canonical_id", min(col(idCol)).over(Window.partitionBy("fp")))
      .drop("fp")
  }

  // ---- MinHash ----

  private val P = 2305843009213693951L // 2^61 - 1 (Mersenne), fits long mult via wrap-safe mixing

  /** k-permutation MinHash signature over pre-hashed shingles — native
    * Expression (one pass over the shingles; the equivalent nested
    * `transform` is interpreted per element and measured 300× slower). */
  def minhashSignatureFromBase(baseHashes: Column, numHashes: Int): Column =
    graft.functions.VectorExprs.minhashSig(baseHashes, numHashes)

  def minhashSignature(text: Column, numHashes: Int, shingleN: Int = 3): Column =
    minhashSignatureFromBase(Shingles.hashedShingles(text, shingleN), numHashes)

  /** LSH banding: explode the signature into `bands` band-hashes.
    * Docs sharing any band-hash are candidates. Output: (id, band, bucket).
    * Shingle hashing is materialized as its own projection so the k
    * permutations share ONE tokenize+hash pass (expression trees would
    * otherwise re-derive the shingles per permutation — a 30× constant). */
  def lshBuckets(df: DataFrame, textCol: String, idCol: String,
                 numHashes: Int = 32, bands: Int = 8, shingleN: Int = 3): DataFrame = {
    val rows = numHashes / bands
    val sig = minhashSignatureFromBase(col("__base"), numHashes)
    // Caching.barrier is a materialization BARRIER, not just a cache:
    // without it CollapseProject inlines the signature expression into
    // every band (and the candidate join's two branches re-run the whole
    // thing) — a measured 40× slowdown. At 100 TB the equivalent is
    // writing the signature table once and joining against it. Released
    // by the caller via Caching.release() after materialization.
    val sigs = graft.util.Caching.barrier(graft.util.Parallelism.fanOut(df)
      .select(col(idCol), Shingles.hashedShingles(col(textCol), shingleN).as("__base"))
      .select(col(idCol), sig.as("sig")))
    sigs
      .select(col(idCol), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows))), lit(42)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Last cap audit swept by the listener: (rows in oversized buckets,
    * largest bucket size). Test/monitoring hook; also warn-logged. */
  @volatile var lastCapAudit: Option[(Long, Long)] = None

  private final class CapAudit(val name: String,
                               val dropped: org.apache.spark.util.LongAccumulator,
                               val maxSeen: graft.functions.MaxAccumulator) {
    var reportedDropped: Long = -1L
  }
  private val capAudits = scala.collection.mutable.ArrayBuffer.empty[CapAudit]
  // Weak keys: sessions must be collectable after stop() — the listener
  // itself dies with the session's listener bus, only the dedup flag here
  // must not pin the session.
  private val capListenerInstalled = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))
  private val capSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private val capHookInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)
  private lazy val capLog = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Currently registered (un-evicted) cap audits — test hook. */
  private[llm] def capAuditCount: Int = capAudits.synchronized(capAudits.size)

  /** Final-sweep and evict all cap audits. Wired to [[graft.util.Caching
    * .release]] so the registry is bounded by one query's capBuckets
    * calls, not the process lifetime (it previously grew one accumulator
    * pair per call, forever). */
  private[llm] def pruneCapAudits(): Unit = {
    sweepCapAudits()
    capAudits.synchronized(capAudits.clear())
  }

  /** Sweep the registered cap-audit accumulators after every query action
    * and warn-log any NEW drops, so recall loss from the bucket-size
    * guard is visible inline — not only via the opt-in `oversizedBuckets`
    * audit query. (Accumulators rather than Dataset.observe: the
    * CollectMetrics metric is silently undelivered for these bucketed
    * self-join shapes under AQE in this Spark build.) */
  private def installCapListener(spark: SparkSession): Unit =
    if (capListenerInstalled.add(spark)) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit = Dedup.sweepCapAudits()
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
    }

  private def sweepCapAudits(): Unit = capAudits.synchronized {
    capAudits.foreach { a =>
      val d = a.dropped.value.longValue
      if (d != a.reportedDropped) {
        a.reportedDropped = d
        lastCapAudit = Some((d, a.maxSeen.value))
        if (d > 0)
          capLog.warn(s"${a.name}: dropped $d bucket-membership rows " +
            s"(largest bucket ${a.maxSeen.value} > cap) — near-dup recall is " +
            "reduced; inspect with oversizedBuckets or raise maxBucketSize")
      }
    }
  }

  /** Degenerate-bucket guard: keep only (grouping) buckets with at most
    * `maxBucketSize` members before a bucket self-join. One pathological
    * bucket (empty/boilerplate docs all hashing together) would otherwise
    * go quadratic — 10M identical docs = 10^14 candidate pairs. The window
    * count partitions exactly like the join key, so the guard rides the
    * join's own shuffle. Dropped buckets are NOT silent: every capped run
    * emits an `observe` metric that the registered listener warn-logs
    * (and exposes via [[lastCapAudit]]); drill into the survivors with
    * `oversizedBuckets` (exact duplicates they contain are `exact`'s job,
    * which stays linear). */
  /** CALLER CONTRACT: wrap the result in `Caching.barrier` BEFORE a self-
    * join. The audit gate lives on the filter; without the cache barrier,
    * AQE's empty-relation propagation can prune the branch carrying the
    * gate (one empty join side skips the other) and the drop counters
    * would read 0 on exactly the degenerate corpora they exist to flag.
    * With the barrier the gate runs once — during cache materialization —
    * regardless of join-branch pruning, and both branches share it. */
  private[llm] def capBuckets(banded: DataFrame, keys: Seq[String],
                              maxBucketSize: Int): DataFrame = {
    val spark = banded.sparkSession
    installCapListener(spark)
    if (capHookInstalled.compareAndSet(false, true))
      graft.util.Caching.onRelease(() => pruneCapAudits())
    val name = s"graft.capBuckets.${capSeq.incrementAndGet()}"
    val dropped = spark.sparkContext.longAccumulator(s"$name.droppedRows")
    val maxSeen = new graft.functions.MaxAccumulator
    spark.sparkContext.register(maxSeen, s"$name.maxBucketSize")
    capAudits.synchronized { capAudits += new CapAudit(name, dropped, maxSeen) }
    banded
      .withColumn("__bsz", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(graft.functions.VectorExprs.capGate(col("__bsz"), maxBucketSize, dropped, maxSeen))
      .drop("__bsz")
  }

  /** The (band, bucket) groups a `maxBucketSize` guard would exclude, with
    * their sizes — monitoring hook so capped runs are auditable. */
  def oversizedBuckets(df: DataFrame, textCol: String, idCol: String,
                       maxBucketSize: Int, numHashes: Int = 32, bands: Int = 16,
                       shingleN: Int = 2): DataFrame =
    lshBuckets(df, textCol, idCol, numHashes, bands, shingleN)
      .groupBy("band", "bucket").agg(count(lit(1)).as("size"))
      .filter(col("size") > maxBucketSize)

  /** MinHash+LSH near-dup candidate pairs (id1 < id2), verified with exact
    * n-gram Jaccard ≥ threshold. The join is bucket-equi (band, bucket) —
    * no cross join anywhere; buckets above `maxBucketSize` are excluded
    * from candidate generation (see `capBuckets`). */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double, numHashes: Int = 32, bands: Int = 16,
                   shingleN: Int = 2, maxBucketSize: Int = 1000): DataFrame = {
    val rows = numHashes / bands
    // ONE enriched table, persisted, carrying signature AND distinct
    // shingle set from a single tokenize+shingle pass: banding, the
    // estimate prefilter, and exact verification all read it. (Separate
    // sig/set barriers cost a second full corpus scan — at 100 TB that is
    // the dominant cost of the whole pipeline.)
    val sigs = graft.util.Caching.barrier(graft.util.Parallelism.fanOut(df)
      .select(col(idCol), Shingles.hashedShingles(col(textCol), shingleN).as("__base"))
      .select(col(idCol), minhashSignatureFromBase(col("__base"), numHashes).as("sig"),
        array_distinct(col("__base")).as("__set")))
    val banded = graft.util.Caching.barrier(capBuckets(sigs
      .select(col(idCol), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows))), lit(42)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"),
      Seq("band", "bucket"), maxBucketSize))
    // NO distinct here: a pair colliding in k bands appears k times, but
    // deduping the RAW candidate set is the pipeline's only
    // full-candidate shuffle (sf1 profile: 14.3M-row exchange + two
    // 1 GB-peak hash aggregates to drop 1.8% of rows — same-pair copies
    // live in different (band, bucket) partitions, so partial aggregation
    // catches none of them pre-shuffle). The sig/set joins below are
    // broadcast (map-side); verifying the k copies costs k small array
    // ops, and the dedup moves to the verified OUTPUT (a threshold-pass
    // pair set, orders of magnitude smaller than the candidates).
    val cand = banded.select(col("band"), col("bucket"), col(idCol).as("id1"))
      .join(banded.select(col("band"), col("bucket"), col(idCol).as("id2")), Seq("band", "bucket"))
      .filter(col("id1") < col("id2")).select("id1", "id2")
    // cheap signature-agreement estimate (E[agree] = jaccard) culls the
    // candidate set ~16x before the exact set verification; margin 0.2
    // keeps miss probability under 1% at j = threshold with 32 hashes
    val est = graft.functions.VectorExprs.sigAgreement(col("__s1"), col("__s2"))
    val prefiltered = cand
      .join(sigs.select(col(idCol).as("id1"), col("sig").as("__s1")), "id1")
      .join(sigs.select(col(idCol).as("id2"), col("sig").as("__s2")), "id2")
      .filter(est >= threshold - 0.2)
      .select("id1", "id2")
    // verify against the PRE-computed distinct HASHED shingle sets riding
    // the same cached table (64-bit hashes: collision probability
    // negligible, no string construction)
    val withSets = prefiltered
      .join(sigs.select(col(idCol).as("id1"), col("__set").as("s1")), "id1")
      .join(sigs.select(col(idCol).as("id2"), col("__set").as("s2")), "id2")
    val inter = size(array_intersect(col("s1"), col("s2"))).cast("double")
    val uni = size(array_union(col("s1"), col("s2"))).cast("double")
    withSets
      .withColumn("jaccard", when(uni === 0, lit(0.0)).otherwise(inter / uni))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
      .distinct() // multi-band copies of the same pair verify identically
  }

  /** Cross-corpus near-dup pairs (leftId, rightId, jaccard ≥ threshold) —
    * the DECONTAMINATION kernel: which training docs near-duplicate a
    * reference (benchmark / test-set) doc. Same banded MinHash geometry
    * as [[minhashPairs]], but candidates come from joining LEFT band
    * buckets to RIGHT band buckets — never a cross join. At 100 TB the
    * reference corpus is typically orders of magnitude smaller than the
    * training corpus, so its banded table broadcasts and the training
    * side is one scan + one bucket-equi probe. */
  def crossPairs(left: DataFrame, right: DataFrame, textCol: String, idCol: String,
                 threshold: Double, numHashes: Int = 32, bands: Int = 16,
                 shingleN: Int = 2, maxBucketSize: Int = 1000): DataFrame = {
    val rows = numHashes / bands
    // NO fanOut here (unlike the self-join families): the n=2 hashed
    // shingle build is the cheap kernel, and the two extra fan-out
    // stages measured +0.7 s on q_decontaminate against no win.
    def enrich(df: DataFrame): DataFrame = graft.util.Caching.barrier(df
      .select(col(idCol), Shingles.hashedShingles(col(textCol), shingleN).as("__base"))
      .select(col(idCol), minhashSignatureFromBase(col("__base"), numHashes).as("sig"),
        array_distinct(col("__base")).as("__set")))
    def banded(sigs: DataFrame): DataFrame = capBuckets(sigs
      .select(col(idCol), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows))), lit(42)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"),
      Seq("band", "bucket"), maxBucketSize)
    val l = enrich(left)
    val r = enrich(right)
    // Two barriers total (the enriched tables, each consumed twice: band
    // explode + set-verify join). The banded tables are each consumed
    // ONCE, so they carry no barrier — and the reference side is
    // explicitly broadcast (both its banded buckets and its shingle
    // sets): at 100 TB the benchmark corpus is tiny next to the training
    // corpus, so the candidate probe and the verify join are map-side on
    // the train scan. (The capBuckets barrier contract is for SELF-joins;
    // here a pruned audit branch can only happen when the OTHER corpus is
    // empty, in which case there is no recall to lose.)
    // distinct EARLY here, unlike minhashPairs' deferral: cross-corpus
    // candidates are dominated by true matches, and a contaminated doc
    // collides with its reference twin in up to ALL bands — the dedup
    // factor is ~bands (measured: deferring it cost q_decontaminate
    // +50% at sf1), not minhashPairs' ~2%. The candidate set itself is
    // small (≈ contaminated docs × bands, the broadcast side bounds it),
    // so this shuffle is cheap.
    val cand = banded(l).select(col("band"), col("bucket"), col(idCol).as("id1"))
      .join(broadcast(banded(r).select(col("band"), col("bucket"), col(idCol).as("id2"))),
        Seq("band", "bucket"))
      .select("id1", "id2").distinct()
    val withSets = cand
      .join(l.select(col(idCol).as("id1"), col("__set").as("s1")), "id1")
      .join(broadcast(r.select(col(idCol).as("id2"), col("__set").as("s2"))), "id2")
    withSets
      .withColumn("jaccard", hashedSetJaccard(col("s1"), col("s2")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Decontamination: the rows of `train` whose text does NOT
    * near-duplicate any `reference` doc at `threshold` (exact duplicates
    * are a subset — jaccard 1). The standard pre-training hygiene pass:
    * drop benchmark/test-set leakage from the training corpus. One
    * banded candidate join + one anti-join; the train corpus is scanned,
    * never self-joined. */
  def decontaminate(train: DataFrame, reference: DataFrame, textCol: String,
                    idCol: String, threshold: Double, numHashes: Int = 32,
                    bands: Int = 16, shingleN: Int = 2,
                    maxBucketSize: Int = 1000): DataFrame = {
    val contaminated = crossPairs(train, reference, textCol, idCol, threshold,
      numHashes, bands, shingleN, maxBucketSize)
      .select(col("id1").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** EXACT n-gram test-set overlap — the GPT-3-style "dirty document"
    * check (count how many of a candidate's distinct word n-grams occur
    * anywhere in the reference corpus), complementing [[decontaminate]]'s
    * fuzzy whole-document MinHash verdict: a doc that merely QUOTES a
    * benchmark item is far below any Jaccard threshold but still leaks
    * the answer string. Output (idCol, n_grams, matched, contaminated).
    *
    * 100 TB shape: the reference n-gram set is the SMALL side by the same
    * contract as [[crossPairs]] (test sets, not corpora) — broadcast to
    * the exploded candidate grams, then one map-combined groupBy(id).
    * `hashed = true` swaps string grams for the rolling 64-bit
    * [[Shingles.hashedShingles]] (8 bytes/gram instead of the string —
    * the at-scale arm; collision odds ≈ n_grams²/2⁶⁵); the spec asserts
    * both arms agree on the fixture; measured at 50k docs, local[32]:
    * string 1.76 s vs hashed 1.01 s median
    * (identical verdicts on all 45k candidates). */
  def ngramOverlap(docs: DataFrame, reference: DataFrame, textCol: String,
                   idCol: String, n: Int, hashed: Boolean = false): DataFrame = {
    def grams = if (hashed) array_distinct(Shingles.hashedShingles(col(textCol), n))
                else array_distinct(Shingles.shingles(col(textCol), n))
    val refGrams = reference.select(explode(grams).as("g")).distinct()
      .withColumn("__hit", lit(1))
    // n_grams folds out of the count AFTER the explode (the gram array is
    // already distinct) — a size(grams) alongside explode(grams) would be
    // CollapseProject'd into a SECOND per-row shingle build
    graft.util.Parallelism.fanOut(docs).select(col(idCol), explode(grams).as("g"))
      .join(broadcast(refGrams), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).as("matched"))
      .withColumn("contaminated", col("matched") > 0)
  }

  /** Memorization audit (the extraction-attack check, Carlini et al.
    * 2021, at the n-gram level): for each CANDIDATE document — model
    * generations, suspected regurgitations — the fraction of its
    * distinct word n-grams that occur ANYWHERE in the training corpus.
    * `memorized_frac` ≈ 1 ⇒ verbatim training text; ≈ 0 ⇒ novel text.
    *
    * The INVERSE shape of [[ngramOverlap]]: there the reference (a test
    * set) is small and broadcasts; here the TRAINING corpus is the big
    * side. So the candidate gram set broadcasts instead, the training
    * corpus is scanned ONCE behind a map-side semi-join gate, and every
    * Exchange carries candidate-bounded rows (matched grams, then one
    * row per candidate doc) — the corpus never shuffles. Output
    * (idCol, n_grams, matched, memorized_frac). */
  def memorizationScore(cand: DataFrame, train: DataFrame, textCol: String,
                        idCol: String, n: Int = 8): DataFrame = {
    def grams = array_distinct(Shingles.shingles(col(textCol), n))
    val candGrams = graft.util.Caching.barrier(
      cand.select(col(idCol), explode(grams).as("g")))
    val candSet = candGrams.select(col("g")).distinct()
    // one training-corpus pass: keep only grams the candidates carry
    // (broadcast semi-join gate), then distinct the bounded survivors
    val seen = graft.util.Parallelism.fanOut(train)
      .select(explode(grams).as("g"))
      .join(broadcast(candSet), Seq("g"), "left_semi")
      .distinct()
      .withColumn("__hit", lit(1))
    candGrams.join(broadcast(seen), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).as("matched"))
      .withColumn("memorized_frac",
        col("matched").cast("double") / col("n_grams").cast("double"))
  }

  /** Bloom-gated exact n-gram decontamination: same verdict as
    * [[ngramOverlap]]'s `contaminated` flag (does ANY of the doc's word
    * n-grams occur in the reference corpus?), but the corpus-side probe
    * is gated by a Bloom filter of the reference grams BEFORE the exact
    * membership join. The filter is exact-composed: Bloom false
    * positives are removed by the string-equality semi-join, so the
    * output is bit-identical to the exact arm — the Bloom stage only
    * prunes work.
    *
    * 100 TB shape: the Bloom sketch is ~1.2 bytes/gram at 1% fpp —
    * 25-50x smaller than broadcasting the gram strings — and it prunes
    * the exploded corpus grams MAP-SIDE, so the exact verify join and
    * the doc-id distinct only ever see (true hits + fpp x corpus grams)
    * rows instead of every gram. The reference side stays the SMALL
    * side by the [[crossPairs]] contract (test sets, not corpora); its
    * `count()` for filter sizing is one action on that small side.
    * Output: (idCol, contaminated) for every candidate doc. */
  def bloomDecontaminate(docs: DataFrame, reference: DataFrame,
                         textCol: String, idCol: String, n: Int,
                         fpp: Double = 0.01,
                         expectedItems: Option[Long] = None): DataFrame = {
    def grams = array_distinct(Shingles.shingles(col(textCol), n))
    val refG = graft.util.Caching.barrier(
      reference.select(explode(grams).as("g")).distinct())
    val expected = math.max(1L, expectedItems.getOrElse(refG.count()))
    val bloom = refG.select(xxhash64(col("g")).as("h"))
      .stat.bloomFilter("h", expected, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
    val mightHit = column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        expression(lit(bytes)), expression(xxhash64(col("g")))))
    val contaminated = graft.util.Parallelism.fanOut(docs)
      .select(col(idCol), explode(grams).as("g"))
      .filter(mightHit)
      .join(broadcast(refG), Seq("g"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("__hit", lit(true))
    docs.select(col(idCol))
      .join(contaminated, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__hit"), lit(false)).as("contaminated"))
  }

  /** Near-dup CLUSTERING: canonical id per document = the smallest id
    * reachable through the near-dup pair graph (connected components) —
    * the curation stage after pair generation: "keep one doc per
    * near-dup cluster", transitively (A~B, B~C ⇒ one survivor of
    * {A,B,C} even when A~C is below threshold).
    *
    * Min-label propagation over the edge list, one round per component
    * diameter (near-dup clusters are dense and shallow — converges in a
    * few rounds). 100 TB shape: each round is one groupBy + join on the
    * EDGE subgraph only (docs without any near-dup never enter the loop);
    * superseded label tables unpersist as soon as the next is
    * materialized. Deterministic: labels are ids, min is min. */
  def nearDupClusters(df: DataFrame, textCol: String, idCol: String,
                      threshold: Double, numHashes: Int = 32, bands: Int = 16,
                      shingleN: Int = 2, maxBucketSize: Int = 1000): DataFrame = {
    val pairs = minhashPairs(df, textCol, idCol, threshold, numHashes, bands,
      shingleN, maxBucketSize).select(col("id1"), col("id2"))
    components(pairs, df.select(col(idCol)), idCol)
  }

  /** Connected components of an undirected (id1, id2) pair graph over the
    * universe `ids`: (id, canonical_id = min reachable id). The generic
    * clustering core of [[nearDupClusters]] — also feed it
    * `Similarity.lshPairs`/`thresholdPairs` output for embedding-space
    * dedup clusters.
    *
    * Hybrid execution: the EDGE list (near-dup pairs) is orders of
    * magnitude smaller than the corpus; when it fits the driver
    * (≤ `driverEdgeLimit` edges, integral ids) a one-pass min-root
    * union-find resolves components exactly — no iteration, one job
    * (measured 7 s of per-round job overhead saved at sf0.1). Bigger
    * graphs fall back to distributed min-label propagation, one
    * groupBy + join per component-diameter round. Identical mapping
    * either way. */
  def components(pairs: DataFrame, ids: DataFrame, idCol: String,
                 driverEdgeLimit: Int = 5000000,
                 reliableCheckpoint: Boolean = false): DataFrame = {
    val p0 = pairs.select(col(pairs.columns(0)).as("id1"), col(pairs.columns(1)).as("id2"))
    val spark = p0.sparkSession
    val integral = p0.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    // Persist-barrier BEFORE take: CollectLimit scans partitions in
    // escalating waves, and when the result is smaller than the limit it
    // exhausts every partition — each wave re-executing the whole
    // candidate-generation pipeline on an uncached frame (measured 17 s
    // vs 3 s for the pipeline itself at sf0.1). One materialization
    // serves the take and any fallback iteration.
    val p = graft.util.Caching.barrier(p0)
    val taken = if (integral) p.take(driverEdgeLimit + 1) else Array.empty[org.apache.spark.sql.Row]
    if (integral && taken.isEmpty) // no near-dups: everything is its own cluster
      return ids.select(col(idCol), col(idCol).as("canonical_id"))
    if (integral && taken.length <= driverEdgeLimit) {
      // driver union-find: always attach the larger root under the
      // smaller, so find(x) IS the component minimum; path compression
      // keeps it effectively linear
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(a: Long): Long = {
        var r = a
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = a
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      def idOf(row: org.apache.spark.sql.Row, i: Int): Long =
        if (row.schema(i).dataType == org.apache.spark.sql.types.IntegerType) row.getInt(i).toLong
        else row.getLong(i)
      taken.foreach { r =>
        val (a, b) = (find(idOf(r, 0)), find(idOf(r, 1)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      val touched = taken.iterator.flatMap(r => Iterator(idOf(r, 0), idOf(r, 1))).toSet
      import spark.implicits._
      val idType = ids.schema(idCol).dataType
      val mapping = touched.iterator.map(k => (k, find(k))).toSeq
        .toDF(idCol, "__canon")
        .select(col(idCol).cast(idType).as(idCol), col("__canon").cast(idType))
      return ids.select(col(idCol))
        .join(broadcast(mapping), Seq(idCol), "left")
        .select(col(idCol), coalesce(col("__canon"), col(idCol)).as("canonical_id"))
    }
    val edges = graft.util.Caching.barrier(
      p.union(p.select(col("id2"), col("id1"))).toDF("src", "dst"))
    // Iterative min-label propagation, with two guards the >cap boundary
    // spec (NearDupScaleSpec) forces:
    //  - checkpoint per round, NOT persist: persist reuses cached
    //    blocks but the LOGICAL plan still embeds the previous round's
    //    plan twice per round (once under the neighbor-min join, once
    //    under the outer join) — 2^rounds subtrees, and by round ~9 even
    //    plan stringification OOMs the driver. Checkpointing truncates
    //    the lineage to the materialized partitions, so plan size stays
    //    constant across rounds — the only shape that survives an
    //    iterative algorithm at 100 TB.
    //  - pointer jumping (label ← min(label, label-of-label)) halves the
    //    remaining component diameter each round → O(log d) rounds
    //    instead of O(d); labels are always ids present in the table, so
    //    the self-join hop is total.
    // localCheckpoint (default) keeps blocks executor-local and
    // unreplicated — fastest, but one lost executor mid-iteration fails
    // the job. reliableCheckpoint=true writes each round to the
    // SparkContext checkpoint dir instead (set it first): the opt-in for
    // long-running cluster jobs where executor loss is expected.
    // Either way the PREVIOUS round's blocks are freed eagerly after
    // `labels = next` — the async ContextCleaner GC would otherwise let
    // a long label-propagation run accumulate every round's storage.
    if (reliableCheckpoint)
      require(spark.sparkContext.getCheckpointDir.isDefined,
        "components(reliableCheckpoint=true) needs spark.sparkContext.setCheckpointDir")
    def ckpt(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint() else df.localCheckpoint()
    // Free the previous round deterministically: its cached blocks, and —
    // on the reliable arm — its checkpoint FILES, which Spark otherwise
    // deletes only under the non-default
    // spark.cleaner.referenceTracking.cleanCheckpoints flag; a 100-round
    // propagation would accumulate 100 rounds of label files.
    def release(df: DataFrame): Unit =
      org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(df).foreach { rdd =>
        rdd.unpersist(blocking = false)
        if (reliableCheckpoint) rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        }
      }
    var labels = ckpt(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var converged = false
    while (!converged) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy("src").agg(min("dlabel").as("nmin"))
      val cand = labels
        .join(nbrMin.select(col("src").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"), least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      val next = ckpt(cand
        .join(cand.select(col("id").as("label"), col("label").as("__ll")), Seq("label"), "left")
        .select(col("id"), least(col("label"), coalesce(col("__ll"), col("label"))).as("label")))
      val changes = next
        .join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).count()
      release(labels)
      labels = next
      converged = changes == 0
    }
    // labels is a materialized checkpoint; register it so the caller's
    // release() frees the blocks after consuming the result
    graft.util.Caching.barrier(labels)
    ids.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("canonical_id"))
  }

  /** Exact word-n-gram Jaccard similarity between two texts. Set algebra
    * runs over 64-bit shingle HASHES (native rolling-hash expression, no
    * shingle strings ever built) — value-identical to string-set Jaccard
    * up to 64-bit collisions, measured ~10× faster per pair. */
  def ngramJaccard(t1: Column, t2: Column, n: Int = 3): Column =
    hashedSetJaccard(array_distinct(Shingles.hashedShingles(t1, n)),
      array_distinct(Shingles.hashedShingles(t2, n)))

  /** Distinct hashed-shingle set per document — precompute this ONCE and
    * join it onto candidate pairs instead of re-shingling texts per pair
    * (per-pair string shingling measured 168 s for 34k candidates at
    * sf0.1; precomputed sets ~4 s — see simhashVerifiedPairs). */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol), array_distinct(Shingles.hashedShingles(col(textCol), n)).as("s"))

  /** Jaccard of two pre-distinct hashed-shingle arrays (the verification
    * kernel to use with [[shingleSets]]). */
  def setJaccard(s1: Column, s2: Column): Column = hashedSetJaccard(s1, s2)

  /** Jaccard of two pre-distinct hashed-shingle arrays. */
  private[llm] def hashedSetJaccard(s1: Column, s2: Column): Column = {
    val inter = size(array_intersect(s1, s2)).cast("double")
    val uni = size(array_union(s1, s2)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** CONTAINMENT |s1 ∩ s2| / |s1| of pre-distinct shingle sets — the
    * asymmetric near-dup verdict Jaccard can't give: a short doc fully
    * quoted inside a long one has containment ≈ 1 while Jaccard stays
    * tiny (|s1|/|s2|). Use with [[shingleSets]] like [[setJaccard]]. */
  def setContainment(s1: Column, s2: Column): Column = {
    val inter = size(array_intersect(s1, s2)).cast("double")
    when(size(s1) === 0, lit(0.0)).otherwise(inter / size(s1).cast("double"))
  }

  // ---- SimHash ----

  /** 64-bit SimHash over whitespace tokens: bit j of the signature is the
    * sign of Σ_tokens (bit j of xxhash64(token) ? +1 : −1). Pure
    * expression — per-doc map work, no shuffle. */
  def simhash(text: Column): Column =
    graft.functions.VectorExprs.simhashSig(
      transform(TextAnalysis.tokens(text), t => xxhash64(t)))

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  private def binom(n: Int, k: Int): Long =
    (1 to k).foldLeft(1L)((acc, i) => acc * (n - k + i) / i)

  /** Banding geometry for hamming tolerance d (Manku et al., WWW'07
    * permuted-block scheme; reference semantics csp-side are just "near-dup
    * by simhash"): split the 64-bit signature into B blocks and key each
    * table on a distinct combination of m = B − d blocks. Pigeonhole: ≤ d
    * differing bits touch ≤ d blocks, so ≥ m blocks are untouched and some
    * table's whole key matches — recall is exactly 1, never probabilistic.
    *
    * The classic single-table-per-block layout (B = d+1, m = 1) is the
    * special case d ≤ 3 resolves to; beyond that its keys shrink to
    * 64/(d+1) bits — at d = 7 that is 8-bit keys / 256 buckets, where at
    * ~10⁶ docs EVERY bucket exceeds any sane cap and `capBuckets` drops
    * all recall. Here B grows until keys carry ≥ minKeyBits, bounding
    * buckets-per-table below ~2^14 regardless of d (table count stays
    * ≤ 64: d=7 → B=9, m=2, 36 tables of 14-bit keys).
    *
    * Returns (block width in bits, the block-index combination per table). */
  private[graft] def simhashBanding(maxDist: Int, minKeyBits: Int = 14): (Int, Seq[Seq[Int]]) = {
    require(maxDist >= 0 && maxDist < 32, s"maxDist $maxDist out of range")
    if (maxDist == 0) return (64, Seq(Seq(0))) // exact signature match
    val chosen = (maxDist + 1 to 21).iterator
      .map { b => (b, b - maxDist, 64 / b) }
      .find { case (b, m, w) => m * w >= minKeyBits && binom(b, m) <= 64 }
      .getOrElse {
        // No (B, m) satisfies both key width and the 64-table cap — the
        // classic B = d+1 layout is the only recall-1 geometry left, and
        // its narrow keys (64/(d+1) bits) are exactly the bucket-collapse
        // hazard the scheme exists to avoid. NOT silent: at corpus scale
        // capBuckets will drop membership rows and recall with them.
        capLog.warn(s"simhashBanding: maxDist=$maxDist admits no layout with " +
          s">=$minKeyBits-bit keys under 64 tables; falling back to classic " +
          s"B=${maxDist + 1} layout with ${64 / (maxDist + 1)}-bit keys — " +
          "buckets will be few and large; expect capBuckets drops (recall " +
          "loss) on large corpora. Prefer maxDist <= 7 or raise maxBucketSize.")
        (maxDist + 1, 1, 64 / (maxDist + 1)) // fallback: classic layout
      }
    val (blocks, m, width) = chosen
    (width, (0 until blocks).combinations(m).map(_.toSeq).toSeq)
  }

  /** SimHash near-dup pairs within hamming ≤ maxDist, bucketed by
    * permuted-block banding ([[simhashBanding]]): each table keys on a
    * combination of signature blocks, so recall is exactly 1 by pigeonhole
    * while keys stay wide enough to survive `capBuckets` at corpus scale. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    simhashPairsFrom(graft.util.Caching.barrier(graft.util.Parallelism.fanOut(df)
      .select(col(idCol), simhash(col(textCol)).as("sig"))),
      idCol, maxDist, maxBucketSize)

  /** Candidate core over a (persisted) `(id, sig, …)` frame. Always
    * dedups the candidates EARLY (a pair colliding in k of the banding
    * tables appears k times): the measured A/B (README, r7) showed
    * deferring the distinct past verification regresses simhash
    * 6.7 → 19.2 s at sf1 — the 3.4× duplication makes the per-copy
    * verify cost exceed the (id1, id2, dist) dedup exchange it saves. */
  private def simhashPairsFrom(sigs: DataFrame, idCol: String,
                               maxDist: Int, maxBucketSize: Int): DataFrame = {
    val (width, combos) = simhashBanding(maxDist)
    val mask = if (width >= 64) -1L else (1L << width) - 1
    def block(b: Int): Column =
      shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask))
    def tableKey(blocks: Seq[Int]): Column =
      blocks.foldLeft(lit(0L): Column)((acc, b) => shiftleft(acc, width).bitwiseOR(block(b)))
    val banded = graft.util.Caching.barrier(capBuckets(sigs
      .select(col(idCol), col("sig"), posexplode(array(combos.map(tableKey): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"),
      Seq("band", "bucket"), maxBucketSize))
    val l = banded.select(col("band"), col("bucket"), col(idCol).as("id1"), col("sig").as("s1"))
    val r = banded.select(col("band"), col("bucket"), col(idCol).as("id2"), col("sig").as("s2"))
    // dist is map-side and pure in the pair, so filter BEFORE distinct:
    // the dedup exchange then carries only within-distance pairs instead
    // of the full multi-table candidate set (same deferral as
    // minhashPairs — the distinct is the only full-candidate shuffle)
    l.join(r, Seq("band", "bucket")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), hamming(col("s1"), col("s2")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Near-dup pairs over PRECOMPUTED 64-bit signatures — any per-row
    * fingerprint with hamming semantics (image dHash
    * [[Multimodal.imageDHash]], audio prints, custom sketches) rides the
    * same recall-1 permuted-block banding as [[simhashPairs]]. `sigs`
    * must carry (idCol, sigCol: long); output (id1, id2, dist). */
  def sigPairs(sigs: DataFrame, idCol: String, sigCol: String = "sig",
               maxDist: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    simhashPairsFrom(graft.util.Caching.barrier(
      sigs.select(col(idCol), col(sigCol).as("sig"))), idCol, maxDist, maxBucketSize)

  /** SimHash candidates verified with exact n-gram Jaccard: the standard
    * two-stage near-dup pipeline (cheap signature recall stage → exact
    * verification stage). Output pairs carry the exact Jaccard, so ground
    * truth is SQL-computable (unlike hamming over xxhash64 signatures). */
  def simhashVerifiedPairs(df: DataFrame, textCol: String, idCol: String,
                           maxDist: Int, jaccardThreshold: Double,
                           shingleN: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    // ONE corpus pass computes signature AND the distinct hashed-shingle
    // verification set into the same cached table — one shingle pass per
    // DOC, never per candidate pair (per-pair string shingling measured
    // 168 s for 34k candidates at sf0.1; this is ~4 s), and no second
    // scan for a separate sets table.
    val enriched = graft.util.Caching.barrier(
      graft.util.Parallelism.fanOut(df).select(col(idCol),
      simhash(col(textCol)).as("sig"),
      array_distinct(Shingles.hashedShingles(col(textCol), shingleN)).as("__set")))
    // simhashPairsFrom dedups its candidates early, unlike minhashPairs'
    // deferral — see its doc for the measured rule (dup-factor ×
    // per-pair verify cost vs dedup shuffle bytes: minhash at 1.8% dups
    // defers; simhash at 3.4× and crossPairs at ~bands× dedup early).
    simhashPairsFrom(enriched, idCol, maxDist, maxBucketSize)
      .join(enriched.select(col(idCol).as("id1"), col("__set").as("s1")), "id1")
      .join(enriched.select(col(idCol).as("id2"), col("__set").as("s2")), "id2")
      .withColumn("jaccard", hashedSetJaccard(col("s1"), col("s2")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("id1", "id2", "jaccard")
  }
}
