package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Pin, Pinned}

/** Frontier-expansion BFS over an edge list — hop distance from a
  * source set, the third iterative-graph primitive next to connected
  * components (`dedup/Cluster.scala`) and PageRank. "What can these
  * nodes reach, and in how many steps" is the lake-side form of every
  * lineage, escalation-path, and blast-radius question, and the
  * bounded-depth variant is what replaces a recursive CTE on engines
  * (like Spark) that lack one.
  *
  * Scale shape: each superstep joins the FRONTIER (not the visited
  * set, not the graph) against edges — one hash join + one distinct +
  * one anti-join against visited, all keyed on node id. Work per
  * round is proportional to the frontier's out-edges, the textbook
  * BFS bound; the visited set only ever participates as the build
  * side of the anti-join. Loop-invariant edges and the growing
  * visited/frontier frames are `localCheckpoint`ed so superstep k
  * never re-executes supersteps 1..k−1's lineage (same move, same
  * measured rationale as `PageRank.pageRank`); on a cluster with an
  * unreliable driver use `checkpoint` to a reliable dir instead.
  *
  * Deterministic by construction — BFS level order is set algebra,
  * no tie-breaking — so the result replays as a DuckDB
  * `WITH RECURSIVE` + `min(depth)` oracle (`graph_reachability`).
  */
object Reachability {

  /** `edges`: (src, dst) directed pairs, pre-deduplicated. `sources`:
    * one `node` column. Returns (node, depth) — the minimum hop count
    * from any source, 0 for the sources themselves — for every node
    * within `maxDepth` hops. Stops early once a frontier comes back
    * empty (the `count` per round is the only driver-side value). */
  def hopDistances(edges: DataFrame, sources: DataFrame,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"need maxDepth >= 0, got $maxDepth")
    // measured root pin; frontier/visited frames are node-grained ⊆
    // the edge frame, so its bytes price the loop
    val Pinned(e, eBytes, _) = Pin(edges.select(col("src"), col("dst")))
    // pin + emptiness test fused into ONE driver action per frame
    // (the pin's row count, guide §5): the count job is the pin's
    // materialization. The growing visited set pins LAZILY — its first
    // consumer is the next round's anti-join (inside that round's
    // fused pin+count job), which reads every partition before any
    // other reference, so no dedicated materialization action either.
    val Pinned(visited0, _, nSrc) = Pin(
      sources.select(col("node")).distinct()
        .withColumn("depth", lit(0)), eBytes)
    var visited = visited0
    var frontier = visited.select(col("node"))
    var d = 1
    var exhausted = nSrc == 0
    while (d <= maxDepth && !exhausted) {
      val Pinned(next, _, n) = Pin(
        frontier.join(e, frontier("node") === e("src"))
          .select(e("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti"), eBytes)
      if (n == 0) exhausted = true
      else {
        visited = visited
          .union(next.withColumn("depth", lit(d)))
          .transform(Pin.deferred(_, eBytes))
        frontier = next
        d += 1
      }
    }
    visited
  }
}
