package graft

import graft.ts.GraftSession

/** The plan-shape tools: `census` is the plan-budget gate and `explain`
  * writes the formatted-plan evidence dumps. Per-query timing lives in
  * [[ProfileQuery]].
  *
  * Usage:
  *   runMain graft.PlanAudit census [sfDir] [out.json] [query…]
  *   runMain graft.PlanAudit explain [sfDir] [outDir] [suffix] query…
  */
object PlanAudit {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("census") =>
      val spark = GraftSession.builder(master = "local[8]", shufflePartitions = 8).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      census(spark, args.lift(1).getOrElse("/root/testdata/sf0.001"),
        args.lift(2).getOrElse("/tmp/plan_census.json"), args.drop(3).toSet)
      spark.stop()
    case Some("explain") =>
      // writes <outDir>/<query>_<suffix>.txt with .explain("formatted")
      // output on the BENCH basis (local[32], bench-rechunked fixtures
      // give the same plan shape; sfDir picks the data).
      val s32 = GraftSession.builder(master = "local[32]").getOrCreate()
      s32.sparkContext.setLogLevel("ERROR")
      val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
      val outDir = args.lift(2).getOrElse("/root/repo/plans/r19")
      val suffix = args.lift(3).getOrElse("before")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      args.drop(4).foreach { name =>
        val df = SparkEntry.queries(name)(s32, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        graft.util.Caching.release()
        println(s"wrote $outDir/${name}_$suffix.txt")
      }
      s32.stop()
    case _ =>
      sys.error("usage: PlanAudit census [sfDir] [out.json] [query...] | " +
        "PlanAudit explain [sfDir] [outDir] [suffix] query...")
  }

  /** Count the shuffle exchanges that would actually EXECUTE, by plan
    * tree walk: (hash, single, range). A persist-barriered subtree's
    * plan string is embedded TWICE per InMemoryRelation (the compiled
    * cachedPlan plus the original child, each with its own plan_id),
    * so the earlier string/plan_id counting over-reported every
    * barrier-using query by one per cached exchange; here each cached
    * relation's plan is counted once (dedup by its CachedRDDBuilder —
    * the unit Spark itself dedups materialization by). Subquery plans
    * are included; BroadcastExchange is excluded as before (a
    * broadcast moves one small side, not a corpus). */
  private[graft] def shuffleCounts(root: org.apache.spark.sql.execution.SparkPlan): (Int, Int, Int) = {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    var hash = 0; var single = 0; var range = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case e: ShuffleExchangeLike => e.outputPartitioning match {
          case _: HashPartitioning => hash += 1
          case SinglePartition => single += 1
          case _: RangePartitioning => range += 1
          case _ =>
        }
        case _ =>
      }
      p.subqueries.foreach(walk)
      p match {
        case s: InMemoryTableScanExec =>
          if (seen.add(s.relation.cacheBuilder)) walk(s.relation.cachedPlan)
        // initialPlan = inputPlan AFTER EnsureRequirements (exchanges
        // inserted, nothing executed yet) — inputPlan has no Exchange
        // nodes at all; package-private in Scala, public in bytecode
        case a: AdaptiveSparkPlanExec =>
          walk(a.getClass.getMethod("initialPlan").invoke(a)
            .asInstanceOf[org.apache.spark.sql.execution.SparkPlan])
        case other => other.children.foreach(walk)
      }
    }
    walk(root)
    (hash, single, range)
  }

  /** Suite-wide plan-shape census → JSON, the mechanical regression gate
    * (tools/plan_check.py compares it against tools/plan_budget.json —
    * verify_gate fails on growth). Two numbers per query:
    *
    *  - `exchanges`: distinct Exchange operators in the executed plan —
    *    each is a full materialize-and-repartition, THE compounding unit
    *    of cost at 100 TB (deduped as [[shuffleCounts]] says);
    *  - `global_windows`: logical Window nodes with an EMPTY
    *    partitionSpec — each funnels its whole input through one task.
    *    The r13 verdict's scale-killer pattern: a budget of N pins the
    *    query's bare ordered windows to its known bounded-domain tables
    *    (≤bins histograms, ≤P partition summaries); any NEW one fails
    *    the gate instead of shipping silently.
    *
    * Counts are plan-shape properties, independent of data scale — the
    * census runs at sf0.001 because some operators execute bounded
    * fit/sizing jobs (counts, sketch bounds) while BUILDING the frame. */
  def census(spark: org.apache.spark.sql.SparkSession, sfDir: String,
             outPath: String, only: Set[String] = Set.empty): Unit = {
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only(q._1)).map { case (name, fn) =>
      val cell = try {
        val df = fn(spark, sfDir)
        val gw = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }.size
        val (h, s1, r) = shuffleCounts(df.queryExecution.executedPlan)
        val x = h + s1 + r
        s"""{"exchanges": $x, "global_windows": $gw}"""
      } catch {
        case t: Throwable => s"""{"error": "${t.getClass.getSimpleName}"}"""
      }
      graft.util.Caching.release()
      s""""$name": $cell"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      entries.mkString("{\n", ",\n", "\n}\n"))
    println(s"plan census: ${entries.size} queries -> $outPath")
  }
}
