package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Pin, Pinned}

/** k-core decomposition by iterative peeling — the fourth
  * iterative-graph primitive next to connected components
  * (`dedup/Cluster.scala`), PageRank, and BFS reachability. The
  * k-core (the maximal subgraph where every node keeps degree ≥ k)
  * is the standard "dense backbone" extraction over lake-mined
  * graphs: spam/bot rings in interaction graphs, the stable
  * co-purchase nucleus, the well-connected region of a link graph
  * that a crawl-quality signal should trust.
  *
  * Algorithm: the textbook peel — drop every node of degree < k,
  * which lowers its neighbors' degrees, and repeat; the fixed point
  * is the k-core, which is UNIQUE, so the peel order cannot change
  * the answer. Each round is one degree aggregate plus two semi-joins
  * restricting the edge list to surviving endpoints — all keyed on
  * node id, no all-pairs shape anywhere; total work per round is
  * Θ(surviving edges), and rounds only ever shrink the frame.
  *
  * The bounded-round form (`rounds` supersteps, early-exit when a
  * round removes nothing) is what makes the result replayable as an
  * unrolled-CTE DuckDB oracle (`graph_kcore`) — and because peeling
  * is monotone, a converged run is IDENTICAL to any longer run, so
  * the early exit never changes the answer, only the cost.
  * Production callers loop to the fixed point; the per-round
  * `localCheckpoint` (same measured rationale as
  * `PageRank.pageRank` — superstep k must not re-execute supersteps
  * 1..k−1's lineage) becomes `checkpoint` to a reliable dir on a
  * cluster with an unreliable driver.
  */
object KCore {

  /** `edges`: (src, dst) — an undirected graph handed in symmetrized
    * (both directions present), pre-deduplicated, no self-loops.
    * Returns (node, deg): every node still standing after `rounds`
    * peel rounds, with its degree in the surviving subgraph. With
    * enough rounds this IS the k-core; the per-round early exit fires
    * as soon as an iteration removes no edge. */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    // measured root pin; every peel round's frame is ⊆ this edge
    // frame, so its bytes price the whole loop. The pin's row count
    // is the edge count (guide §5): the count is the job that fills
    // the blocks, so each peel round pays one driver round-trip where
    // it paid two
    val Pinned(e0, eBytes, n0) = Pin(edges.select(col("src"), col("dst")))
    var e = e0
    // the per-round edge count is the only driver-side value; it
    // doubles as the convergence test (peeling is monotone, so an
    // unchanged count means the fixed point is reached)
    var nEdges = n0
    var r = 0
    var converged = false
    while (r < rounds && !converged && nEdges > 0) {
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("src").as("node"))
      val Pinned(next, _, n) = Pin(e
        .join(keep, e("src") === keep("node"), "left_semi")
        .join(keep, e("dst") === keep("node"), "left_semi"), eBytes)
      if (n == nEdges) converged = true
      else { e = next; nEdges = n }
      r += 1
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }
}
