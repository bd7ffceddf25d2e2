package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Pin, Pinned}

/** Hop-bounded cheapest path (distributed Bellman–Ford) — weighted
  * shortest distance from a source set, the weighted sibling of
  * `Reachability.hopDistances`. "Cheapest way to reach X within R
  * hops" is the lake-side form of routing-cost, influence-decay, and
  * supply-chain-latency questions; the hop bound is both the
  * business semantics (R-step reach) and what keeps the kernel a
  * fixed number of supersteps.
  *
  * Algorithm: R rounds of min-plus relaxation —
  * `dist'(v) = min(dist(v), min over edges (u,v,w) of dist(u)+w)` —
  * each round ONE join of the current distance vector onto edges
  * (keyed on src) plus ONE min-aggregate on dst, the same exchange
  * pattern as a PageRank superstep. The distance frame stays (node,
  * long) narrow; with INTEGER weights every candidate is exact, so
  * min() is order-independent and the result replays as an
  * unrolled-CTE DuckDB oracle (`graph_cheapest`) with no float-drift
  * risk. Work per round is Θ(edges touched by the settled set), never
  * all-pairs.
  *
  * Loop-invariant edges and the evolving distance vector are
  * `localCheckpoint`ed per round (same measured rationale as
  * `PageRank.pageRank`); production swaps in `checkpoint` to a
  * reliable dir and loops until no distance improves instead of a
  * fixed R — Bellman–Ford relaxation is monotone, so like the k-core
  * peel a converged run equals any longer run.
  */
object CheapestPath {

  /** `edges`: (src, dst, w) directed pairs with a non-negative LONG
    * weight, pre-deduplicated. `sources`: one `node` column. Returns
    * (node, dist) — the cheapest total weight from any source using
    * at most `rounds` hops, 0 for the sources — for every node
    * reachable within `rounds` hops. Early-exits when a round settles
    * no new improvement (driver-side count, the only scalar). */
  def cheapestPaths(edges: DataFrame, sources: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"need rounds >= 0, got $rounds")
    // measured root pin; relaxation frames are node-grained ⊆ the
    // edge frame, so its bytes price the whole loop
    val Pinned(e, eBytes, _) = Pin(edges.select(col("src"), col("dst"),
      col("w").cast("long").as("w")))
    // converged iff nothing improved: relaxation is monotone
    // non-increasing per node and can only add nodes, so comparing
    // (rows, total mass) detects any change without a join. The
    // signature aggregate doubles as the LAZY pin's materialization
    // job (pin+agg = one driver action, guide §5), and each round's
    // `before` IS the previous round's `after` — carried forward
    // instead of re-aggregated, so a round pays 1 driver action where
    // it paid 3 (pin job + before agg + after agg).
    def sig(d: DataFrame) =
      d.agg(count(lit(1)), sum(col("dist"))).head()
    var dist = sources.select(col("node")).distinct()
      .withColumn("dist", lit(0L))
      .transform(Pin.deferred(_, eBytes))
    var distSig = sig(dist)
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(e("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .unionByName(dist)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .transform(Pin.deferred(_, eBytes))
      val after = sig(relaxed)
      if (distSig == after) converged = true
      dist = relaxed
      distSig = after
      r += 1
    }
    dist
  }
}
