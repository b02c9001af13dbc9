package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for dedup clustering.
  *
  * The production dedup semantics at corpus scale is CLUSTER-correct:
  * near-dup similarity is not transitive (A~B, B~C without A~C), so the
  * keep/drop decision must be made per connected COMPONENT of the
  * verified-pair graph, keeping one representative per cluster — pairwise
  * greedy drops can orphan or double-drop chain members.
  */
object Graphs {

  /** Connected components by min-id label propagation.
    *
    * `edges(src, dst)` — undirected, any long-castable id type. Returns
    * `(id, component)` for every node that appears in an edge, where
    * `component` is the smallest node id reachable from `id`.
    *
    * Scale shape: the loop is a FIXED sequence of hash joins + partial
    * aggregates per round — the classic large-graph CC recipe
    * (label propagation à la Pregel, expressed as DataFrame joins so
    * Catalyst/AQE handle partitioning):
    *  - each round shuffles on node id only (labels relation: 2 longs per
    *    node; the corpus itself is never touched);
    *  - convergence is decided by ONE tiny aggregate (`isEmpty` over the
    *    strictly-shrunk labels) — no driver collect of any data;
    *  - rounds needed = graph diameter, and near-dup clusters are
    *    shallow (dense cliques + short chains), so a handful of rounds
    *    closes even web-scale corpora; `maxIters` bounds the worst case
    *    (a path graph) rather than looping forever.
    *
    * Each round's labels are `localCheckpoint`ed: iterative plans nest one
    * round inside the next, so without truncation the logical plan (and
    * AQE's re-optimization work) grows EXPONENTIALLY with rounds — the
    * checkpoint pins each round to its materialized result and keeps the
    * per-round plan constant-size. A long-lived production job on a real
    * cluster would use reliable `checkpoint()` (localCheckpoint trades
    * executor-loss recovery for speed; the right trade in one job, not in
    * a multi-hour pipeline).
    */
  def connectedComponents(edges: DataFrame, src: String = "src",
                          dst: String = "dst", maxIters: Int = 20): DataFrame = {
    val e = edges.select(col(src).cast("long").as("s"), col(dst).cast("long").as("d"))
    // every checkpoint goes through the query-scoped registry
    // (core.scopedCheckpoint) so the harness's releaseQueryCaches frees
    // the blocks — checkpoint RDDs survive catalog.clearCache() and
    // would otherwise leak once per call in a long-lived session.
    // Superseded rounds are ALSO freed eagerly below, so peak
    // block count stays O(1) in the round count, not O(diameter).
    val sym = graft.core.scopedCheckpoint(
      e.union(e.select(col("d").as("s"), col("s").as("d"))).distinct())
    var labels = graft.core.scopedCheckpoint(
      sym.select(col("s").as("id")).distinct().withColumn("label", col("id")))
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      // min label over incoming neighbors, then fold into the node's own
      val nbrMin = sym
        .join(labels.select(col("id").as("nid"), col("label")), col("s") === col("nid"))
        .groupBy(col("d").as("id"))
        .agg(min(col("label")).as("nbl"))
      val next = graft.core.scopedCheckpoint(labels
        .join(nbrMin.withColumnRenamed("id", "mid"), col("id") === col("mid"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbl"), col("label"))).as("label")))
      // labels only ever decrease: converged ⇔ no strict decrease this round
      done = next.as("n")
        .join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.label") < col("o.label"))
        .isEmpty
      // the convergence probe above was this round's last read of the
      // superseded labels — free them now (release is idempotent with
      // the registry's own end-of-query pass)
      graft.core.releaseCheckpoint(labels)
      labels = next
      iter += 1
    }
    graft.core.releaseCheckpoint(sym)
    labels.withColumnRenamed("label", "component")
  }
}
