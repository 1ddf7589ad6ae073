package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy (parent-child) analytics — the org-chart / bill-of-
  * materials / category-tree rollup every warehouse eventually needs
  * and flat SQL cannot express without recursion.
  *
  * [[closure]] materializes the transitive ancestor set by iterated
  * joins — `maxDepth` rounds, each ONE join of the frontier (node,
  * ancestor) pairs against the edge table keyed on the ancestor
  * column, with `localCheckpoint` pinning lineage per round (the
  * [[graft.llm.LinkGraph.bfsHops]] discipline). The closure grows as
  * Σ depths ≤ nodes·maxDepth rows; real hierarchies are shallow
  * (depth < 20), so the closure is a small multiple of the node
  * count. Cycles cannot loop the iteration (depth strictly
  * increases), but a cycle's nodes would accumulate rows until
  * maxDepth — the count guard below turns that into a loud error.
  *
  * [[rollup]] then aggregates leaf values up every ancestor in one
  * closure join + one grouped DECIMAL sum — the "subtree total per
  * node" readout. */
object Hierarchy {

  /** (node, ancestor, depth) pairs, depth ≥ 1, up to `maxDepth`.
    * `edges` carries one (child, parent) row per node (roots simply
    * absent or with null parent — null parents are dropped). */
  def closure(edges: DataFrame, childCol: String, parentCol: String,
              maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth $maxDepth must be >= 1")
    val e = edges.select(col(childCol).as("c"), col(parentCol).as("p"))
      .filter(col("p").isNotNull && col("p") =!= col(childCol)) // self-parent = root
      .distinct()
    var frontier = e.select(col("c").as("node"), col("p").as("ancestor"),
      lit(1).as("depth")).localCheckpoint()
    var out = frontier
    var d = 1
    while (d < maxDepth && !frontier.isEmpty) {
      d += 1
      frontier = frontier.join(e, frontier("ancestor") === e("c"))
        .select(frontier("node"), e("p").as("ancestor"), lit(d).as("depth"))
        .localCheckpoint()
      out = out.unionByName(frontier).localCheckpoint()
    }
    require(out.filter(col("node") === col("ancestor")).limit(1).isEmpty,
      s"hierarchy contains a cycle (a node reaches itself within $maxDepth hops)")
    out
  }

  /** Subtree totals: per node, the DECIMAL-exact sum of `valueCol`
    * over itself and every descendant, plus the member count —
    * (node, n_members, subtree_total). One closure join, one hash
    * aggregate. */
  def rollup(edges: DataFrame, childCol: String, parentCol: String,
             values: DataFrame, nodeCol: String, valueCol: String,
             maxDepth: Int): DataFrame = {
    val cl = closure(edges, childCol, parentCol, maxDepth)
    // Null-node value rows contribute nowhere (the old self-pair union
    // joined them away on down === node); filter them up front so the
    // value table is consumed ONCE below.
    val v = values.select(col(nodeCol).as("node"),
        col(valueCol).cast("decimal(28,2)").as("v"))
      .filter(col("node").isNotNull)
    // r20 restructure: the old shape (self-pair union + closure join)
    // consumed the caller's per-node value aggregate TWICE, and the
    // plan recomputed it once per consumer (a 600k-row lineitem
    // aggregate twice on q_hierarchy; a persist barrier was measured
    // WORSE both rounds — the cache fill serializes the two branches).
    // Instead each value row carries its ancestor SET (the distinct
    // ancestors within maxDepth hops; collect_set collapses DAG diamonds
    // exactly like the old reach.distinct) and explodes into one
    // contribution per ancestor plus itself — the value aggregate sits
    // under exactly one plan subtree, so it computes once with no
    // barrier. Per-node buffer bound: with at most p parents per node,
    // the set holds ≤ min(N − 1, p + p² + … + p^maxDepth) entries for N
    // nodes — ≤ maxDepth on a tree (p = 1), but not bounded by maxDepth
    // alone on a wide DAG.
    val anc = cl.groupBy(col("node"))
      .agg(collect_set(col("ancestor")).as("__ups"))
    v.join(anc, Seq("node"), "left")
      .select(explode(when(col("__ups").isNull, array(col("node")))
        .otherwise(concat(col("__ups"), array(col("node"))))).as("__up"), col("v"))
      .groupBy(col("__up").as("node"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("v")).cast("double").as("subtree_total"))
  }
}
