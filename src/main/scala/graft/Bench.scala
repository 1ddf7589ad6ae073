package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ts.{GraftSession, Sources}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints per-query wall seconds as JSON.
  *
  * Output contract (driver-parseable, truncation-hardened):
  *   - one SHORT line per query: `{"bench_query":"q1","median":…,"min":…}`
  *     (plus `"err":"…"` if any sample threw) — these lines are ~50 chars,
  *     so the driver's long-line head-truncation (which ate q1…q_cov_corr
  *     from BENCH_r04–r07) cannot lose them;
  *   - one final summary line `{"metric":"total",…,"queries":{medians}}`.
  *     The medians map is the ONLY map on that line — `queries_min` moved
  *     to the per-query lines, halving the line vs r7.
  *
  * A query that throws is REPORTED, not swallowed: its `err` carries the
  * exception class+message, its median is the time-to-throw (so a
  * fail-fast regression is still visible), and the summary line gains an
  * `"errors":{name:count}` map. Exit code stays 0 — correctness is
  * CORRECTNESS's job; the bench's job is a self-auditing record.
  */
object Bench {

  /** One query's measured record across the interleaved passes.
    * `samples` keeps every pass's wall time in run order — the per-query
    * median alone can't distinguish a plan regression from a
    * co-scheduled load spike (the q_simhash_pairs question took four
    * rounds to close for lack of exactly this). */
  final case class QueryResult(name: String, median: Double, min: Double,
                               err: Option[String], errCount: Int,
                               samples: Vector[Double] = Vector.empty)

  /** Run `iters` interleaved round-robin passes over `suite` and collect
    * per-query medians/mins/errors. Interleaving rationale: consecutive
    * same-query runs let a multi-minute machine-load spike hit all N
    * samples of an alphabetically-contiguous block at once (the round-6
    * driver record showed exactly that); round-robin spreads each query's
    * samples across the whole wall-clock window so a spike inflates at
    * most one sample per query and the median survives. Every run
    * rebuilds the plan and releases persist-barriers, so nothing warm
    * carries between runs except the JIT — which is the point.
    */
  def measure(
      spark: SparkSession,
      suite: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String,
      iters: Int): Seq[QueryResult] = {
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val errors = scala.collection.mutable.Map.empty[String, Vector[String]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to iters; (name, fn) <- suite) {
      val t0 = System.nanoTime()
      // Execute the query's OWN physical plan (count() builds a
      // different, column-pruned plan — projection-only queries would
      // degenerate to parquet row counts and report fiction).
      try { fn(spark, sfDir).queryExecution.toRdd.count(); () }
      catch {
        case e: Throwable =>
          errors(name) = errors(name) :+ describe(e)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // Release the operators' registered persist-barriers so caches
      // don't accumulate across queries/iterations and skew timings.
      graft.util.Caching.release()
      samples(name) = samples(name) :+ dt
    }
    suite.map { case (name, _) =>
      val ts = samples(name).sorted
      val errs = errors(name)
      QueryResult(name, ts(ts.length / 2), ts.head, errs.headOption, errs.length,
        samples(name))
    }
  }

  /** A failed query's `err` text: exception class and message. */
  private[graft] def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"

  // 4 decimals (0.1 ms): keeps the summary line short — the driver's
  // record capture truncates the HEAD of long lines (BENCH_r04–r07).
  private[graft] def f(d: Double): String =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  /** Render the line-per-query records followed by the one summary line
    * (always LAST — the driver reads the record from a ~2 KB stdout
    * TAIL). The summary's `queries` map is therefore BOUNDED: the
    * flagship q1–q4 plus the `maxSummary` slowest medians — a 300-entry
    * map is ~7 KB, which pushed `{"metric":…` past the tail window and
    * left `"parsed": null` in every BENCH_r04–r12 record. The FULL map
    * lives in bench/medians_latest.json (committed each round). */
  def renderLines(results: Seq[QueryResult], iters: Int, sfDir: String,
                  maxSummary: Int = 40): Seq[String] = {
    val perQuery = results.map { r =>
      val err = r.err.map(e => s""","err":${jstr(e)},"err_count":${r.errCount}""").getOrElse("")
      s"""{"bench_query":${jstr(r.name)},"median":${f(r.median)},"min":${f(r.min)}$err}"""
    }
    val flagship = results.filter(_.name.matches("q[1-4]_.*"))
    val headline = (flagship ++ results.sortBy(-_.median)).distinct.take(maxSummary + flagship.size)
    val medians = headline.sortBy(_.name)
      .map(r => jstr(r.name) + ":" + f(r.median)).mkString("{", ",", "}")
    val failed = results.filter(_.err.isDefined)
    val errMap =
      if (failed.isEmpty) ""
      else failed.map(r => jstr(r.name) + ":" + r.errCount).mkString(""","errors":{""", ",", "}")
    val total = results.map(_.median).sum
    perQuery :+
      s"""{"metric":"total","value":${f(total)},"unit":"sec","iters":$iters,"interleaved":true,"n_queries":${results.size},"queries_note":"flagship+slowest $maxSummary of ${results.size}; full map in bench/medians_latest.json"$errMap,"queries":$medians,"sf":${jstr(sfDir)}}"""
  }

  /** The documented bench oscillators (VERDICT r6–r11): each full-suite
    * run re-measures these ISOLATED (after the suite finishes, nothing
    * concurrent) so any future "driver regression?" question is a
    * one-line suite-vs-isolated lookup in the record instead of a round
    * of re-measurement. */
  private val CanaryQueries =
    Seq("q_simhash_pairs", "q_sync", "q_weighted_var", "q_dedup_best",
      // r14 additions: the r13 unexplained mover (pinned: fixture-basis
      // +0.1 s from the documents rechunk split, NOT a code change —
      // rechunk-off reproduces r12's 0.59 min) and the suite top-N that
      // had never had isolated numbers
      "q_warc_gzip", "q_kcore", "q_label_prop", "q_cross_sectional",
      // r15 additions: the r14 verdict's unattributed >1.3× suite-min
      // movers (all untouched code) — isolated pins each round settle
      // suite-interleaving vs regression mechanically
      "q_bfs", "q_useragent", "q4_order_rank", "q_poisson_timer",
      // r16 addition: the r15 round's one unattributed >1.3× mover
      // (0.59 → 0.85 s with no Db.scala commits — embedded Derby
      // shares the bench JVM's disk/lock budget, so its suite median
      // inherits whatever the co-scheduled queries are doing)
      "q_jdbc_roundtrip",
      // r17 additions (VERDICT r16 #8): the r16 DRIVER record's three
      // unexplained spikes (6.0/4.2/5.0 s vs 0.95/0.78/0.57 r15 —
      // quartile analysis says front-loaded contention); isolated rows
      // carry their contention factor mechanically from now on
      "q_bm25", "q_boxplot", "q_autocorr",
      // r18 additions (VERDICT r17 #8): the r17 driver run's sub-second
      // micro-rows that moved ~2x driver-vs-record with census-identical
      // plans — suite-position noise on ~0.5 s queries; pin the worst
      // two so the attribution is mechanical
      "q_dynamic_collect", "q_dupts_sample",
      // r19 additions (VERDICT r18 #4): both have moved >2x across two
      // different rounds with census-identical plans in untouched files
      // — make the suite-contention attribution mechanical like q_bm25
      "q_er_pairs", "q_avg_precision",
      // r20 additions (VERDICT r19 #5): the two biggest rows of the r19
      // DRIVER record were unattributed local[32] contention spikes
      // (q_ngram_overlap 13.4 s, q_blocklist 5.8 s vs 1.2/1.0 s in the
      // builder's runs, census-identical plans, untouched code) — pin
      // them so the suite-vs-isolated ratio is on record every run
      "q_ngram_overlap", "q_blocklist")

  /** Fixed-work, IO-free calibration controls (VERDICT r16 #1): every
    * bench record carries the host's measured speed on two pinned
    * workloads, so cross-round suite comparisons normalize
    * MECHANICALLY instead of re-deriving a host basis from "untouched"
    * queries that are themselves scan-bound.
    *
    *  - `codegen_fold`: a seeded `spark.range` hash fold, 200M rows in
    *    32 pinned partitions — whole-stage codegen across every core,
    *    zero IO, zero shuffle; tracks the multi-core basis the suite's
    *    aggregate-bound queries see.
    *  - `jvm_spin`: 200M xorshift iterations on the driver thread —
    *    single-core scalar speed; tracks clock/steal without any
    *    Spark machinery.
    *
    * Run at suite START and END (1 warm pass + 5 measured, median):
    * the r16 driver record's signature — first-quartile geomean 2.02
    * vs ~1.4 later — is exactly a pre/post calibration DELTA, visible
    * in one field instead of a forensic quartile analysis. */
  def calibrate(spark: SparkSession, passes: Int = 5): (Double, Double) = {
    import org.apache.spark.sql.functions.{col, shiftright, sum, xxhash64}
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    val fold = (0 to passes).map { _ =>
      val t0 = System.nanoTime()
      // shiftright bounds the summand to ±2^31 so 200M terms stay well
      // inside a Long under ANSI arithmetic
      spark.range(0L, 200000000L, 1L, 32)
        .select(sum(shiftright(xxhash64(col("id") + 1234567L), 32))).head()
      (System.nanoTime() - t0) / 1e9
    }
    var sink = 0L
    val spin = (0 to passes).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink ^= x
      (System.nanoTime() - t0) / 1e9
    }
    if (sink == 42L) println("") // keep the spin live past the JIT
    (median(fold.tail), median(spin.tail)) // drop the warm pass
  }

  /** Content-identical multi-file copy of the fixture dir under /tmp.
    * The driver fixtures are ONE parquet row group per table, so a big
    * scan-bound aggregate decodes its whole table on one core — wall
    * time that a real deployment (100 TB = thousands of splits) never
    * sees; bench medians then measure the fixture, not the plan
    * (VERDICT r11 #5: q1 was single-row-group lineitem decode on one
    * core). Split count is PROPORTIONAL TO TABLE BYTES (1 file per MiB,
    * capped at 32): only tables whose decode dominates get split, while
    * small tables keep their single file — a measured 64-way uniform
    * split COST 1.3× suite-wide because ~64 task inits per scan swamp
    * sub-second queries (the compute-amplified document pipelines
    * already spread via Parallelism.fanOut post-scan, so they need no
    * scan-level splits). Single-file tables are byte-copied (original
    * encoding preserved); split tables are rewritten — rows identical
    * as a multiset (content is hash-derived, order-independent; the
    * full verify gate passes on rechunked tables). Cached by a
    * (size, mtime) signature; SPARK_GRAFT_BENCH_RECHUNK=0 opts out. */
  def rechunkFixtures(spark: SparkSession, sfDir: String, maxFiles: Int = 32): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val present = tables.filter(t => Files.exists(Paths.get(s"$sfDir/$t.parquet")))
    if (present.isEmpty) return sfDir
    // Spark-written tables are DIRECTORIES of part files; Files.size on
    // a directory returns the inode size (~4 KB), which made every
    // directory table compute files=1 and get COALESCED into one
    // single-row-group file — sf1 scans then decoded 6M rows on one
    // core (q_standardize read 8.4 s vs 2.0 s). Sum the parts instead.
    def tableBytes(p: java.nio.file.Path): Long =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.filter(f => f.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum
        finally s.close()
      } else Files.size(p)
    val sig = present.map { t =>
      val p = Paths.get(s"$sfDir/$t.parquet")
      s"$t:${tableBytes(p)}:${Files.getLastModifiedTime(p).toMillis}"
    }.mkString("|") + s"|max$maxFiles|v3"
    val key = Integer.toHexString((sfDir + "|" + sig).hashCode)
    val dst = s"${System.getProperty("java.io.tmpdir")}/graft_bench_fx/${Paths.get(sfDir).getFileName}_$key"
    val marker = Paths.get(s"$dst/_RECHUNK_OK")
    if (Files.exists(marker)) return dst
    val t0 = System.nanoTime()
    Files.createDirectories(Paths.get(dst))
    val split = present.map { t =>
      val src = Paths.get(s"$sfDir/$t.parquet")
      val files = math.max(1, math.min(maxFiles, (tableBytes(src) >> 20).toInt))
      if (Files.isRegularFile(src) && files == 1)
        Files.copy(src, Paths.get(s"$dst/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      else
        spark.read.parquet(src.toString).repartition(files)
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      t -> files
    }
    Files.writeString(marker, sig)
    val filesJson = split.map { case (t, n) => s"${jstr(t)}:$n" }.mkString("{", ",", "}")
    println(s"""{"bench_rechunk":${jstr(dst)},"files_per_table":$filesJson,"sec":${f((System.nanoTime() - t0) / 1e9)}}""")
    dst
  }

  def main(args: Array[String]): Unit = {
    val rawSfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // multi-row-group fixture copy (outside every timed region)
    val sfDir =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_RECHUNK", "1") == "0") rawSfDir
      else rechunkFixtures(spark, rawSfDir)
    // warm the session (JVM + codegen paths) so per-query times measure the
    // queries, not first-use setup
    Sources.table(spark, sfDir, "lineitem").count()
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // optional query-name filter (args), e.g. the sf-scaling harness
    // timing just the expensive queries — no args = the full suite
    val wanted = if (args.isEmpty) SparkEntry.queries.keySet else args.toSet
    val unknown = wanted -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown bench queries: $unknown")
    val suite = SparkEntry.queries.toSeq.filter(q => wanted(q._1)).sortBy(_._1)
    // pre-suite calibration (fixed work, IO-free): the record's
    // mechanical host basis — see [[calibrate]]
    val calPre = calibrate(spark)
    val results = measure(spark, suite, sfDir, iters)
    // contention canaries: re-measure the oscillators with the suite
    // idle (5 passes each, machine otherwise quiet) — suite-median /
    // isolated-median is the in-suite contention factor, on record.
    val canaries =
      if (args.nonEmpty) Seq.empty
      else measure(spark, suite.filter(q => CanaryQueries.contains(q._1)), sfDir, iters = 5)
    val calPost = calibrate(spark)
    val cal = Some((calPre, calPost))
    // Record file FIRST, summary line LAST: the driver keeps only a
    // ~2 KB stdout tail, so nothing may print after the summary.
    // Full-suite runs own bench/medians_latest.json; a FILTERED ad-hoc
    // run must not overwrite the suite record it would otherwise clobber
    // (r10/r11 operational pitfall — required a manual git checkout).
    if (args.isEmpty) {
      val out = writeRecordFile(results, iters, sfDir, canaries, cal, cpus = cpus.toInt)
      // per-core-count twin alongside the default record file: a later
      // run at a DIFFERENT core count overwrites medians_latest.json but
      // never the 32-core record (bench/medians_c32.json survives). Only
      // the full suite writes it, so a filtered run can never clobber it.
      if (out.endsWith("medians_latest.json"))
        writeRecordFile(results, iters, sfDir, canaries, cal,
          out = out.replace("medians_latest.json", s"medians_c$cpus.json"), cpus = cpus.toInt)
    } else writeRecordFile(results, iters, sfDir, canaries, cal,
      out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench_filtered.json"),
      cpus = cpus.toInt)
    println(s"""{"bench_calibration":{"pre":{"codegen_fold":${f(calPre._1)},"jvm_spin":${f(calPre._2)}},"post":{"codegen_fold":${f(calPost._1)},"jvm_spin":${f(calPost._2)}}}}""")
    renderLines(results, iters, sfDir).foreach(println)
    spark.stop()
  }

  /** Persist the full medians record to a repo file — the driver's stdout
    * tail capture (~2.2 KB) has truncated the 126-median summary line six
    * rounds running (BENCH_r04–r09 `"parsed": null`); the stdout lines
    * stay as a courtesy, the FILE is the record of record. One line per
    * query so diffs and partial reads stay meaningful. Returns the path
    * written. */
  def writeRecordFile(results: Seq[QueryResult], iters: Int, sfDir: String,
                      canaries: Seq[QueryResult] = Seq.empty,
                      calibration: Option[((Double, Double), (Double, Double))] = None,
                      out: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
                        "/root/repo/bench/medians_latest.json"),
                      cpus: Int = -1): String = {
    val rows = results.map { r =>
      val err = r.err.map(e => s""","err":${jstr(e)},"err_count":${r.errCount}""").getOrElse("")
      val samples = r.samples.map(f).mkString("[", ",", "]")
      s"""  ${jstr(r.name)}: {"median":${f(r.median)},"min":${f(r.min)},"samples":$samples$err}"""
    }
    val total = results.map(_.median).sum
    // canary block: suite-median vs isolated-median per oscillator —
    // their ratio IS the in-suite contention factor for this run
    val suiteMed = results.map(r => r.name -> r.median).toMap
    val canaryRows = canaries.map { c =>
      val samples = c.samples.map(f).mkString("[", ",", "]")
      s"""  ${jstr(c.name)}: {"suite_median":${f(suiteMed.getOrElse(c.name, 0.0))},"isolated_median":${f(c.median)},"isolated_min":${f(c.min)},"samples":$samples}"""
    }
    val canaryBlock =
      if (canaryRows.isEmpty) ""
      else s""","canaries":{
              |${canaryRows.mkString(",\n")}
              |}""".stripMargin
    val calBlock = calibration.map { case ((preF, preS), (postF, postS)) =>
      s""","calibration":{"pre":{"codegen_fold":${f(preF)},"jvm_spin":${f(preS)}},"post":{"codegen_fold":${f(postF)},"jvm_spin":${f(postS)}}}"""
    }.getOrElse("")
    // cpus stamped into the record (VERDICT r19 #2): the driver runs the
    // bench at BOTH 32 and 8 cores, and the 8-core run used to silently
    // clobber the 32-core medians_latest.json — any tool comparing
    // "latest" records then compared across core counts.
    val cpusField = if (cpus > 0) s""","cpus":$cpus""" else ""
    val json =
      s"""{"sf":${jstr(sfDir)},"iters":$iters$cpusField,"total_sec":${f(total)},"n_queries":${results.size}$calBlock$canaryBlock,
         |"queries":{
         |${rows.mkString(",\n")}
         |}}""".stripMargin
    val p = java.nio.file.Paths.get(out)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, json)
    println(s"""{"bench_record_file":${jstr(out)}}""")
    out
  }
}
