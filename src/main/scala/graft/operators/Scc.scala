package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Pin, Pinned}

/** Bounded-round strongly-connected-component detection over a
  * DIRECTED edge list — the forward-backward "coloring" step (Orzan's
  * coloring SCC / the FW-BW trim step, the standard distributed SCC
  * primitive) as two synchronous superstep loops, the fifth
  * iterative-graph primitive next to BFS reachability, PageRank,
  * k-core, and min-label communities (which answer the UNDIRECTED
  * component question; SCC is its directed refinement).
  *
  * Phase 1 (forward coloring): every node starts colored with its own
  * id; each round it adopts the minimum color among itself and its
  * in-neighbors. After R rounds `color(v)` is the smallest node id
  * with a ≤R-hop path TO v.
  *
  * Phase 2 (backward confirmation): a node is in the same SCC as its
  * color ROOT m = color(v) iff it also REACHES m. Roots flag
  * themselves; each round the flag propagates along REVERSED edges,
  * restricted to the root's color class. The restriction loses
  * nothing: any v→m path inside SCC(m) is entirely m-colored (a
  * smaller id reaching any node on it would reach v too, contradicting
  * color(v) = m) — which is exactly why the coloring algorithm
  * recurses only on the UNFLAGGED remainder.
  *
  * With rounds ≥ the graph's diameter the flagged classes are EXACTLY
  * the SCCs of the color roots (property-tested against a
  * closure-matrix reference in SccSpec); at bounded rounds both loops
  * are deterministic round-for-round, which is what the unrolled-CTE
  * oracle replays. The unflagged remainder is where the full
  * algorithm would recurse — returned honestly as `in_scc = false`,
  * never guessed.
  *
  * Scale shape: each round of either phase is ONE flags⋈edges hash
  * join + one node-keyed aggregate + one left join back — Θ(edges)
  * per round, the same superstep exchange pattern as
  * [[Reachability]]/[[CheapestPath]]/[[LabelProp]], never all-pairs.
  * The loop-invariant edge frame and every round's frame are
  * `localCheckpoint`ed so round k never re-executes rounds 1..k−1's
  * lineage; on a cluster with an unreliable driver use `checkpoint`
  * to a reliable dir.
  *
  * Reference behavior anchor: the lake's relationship rollups
  * (`aggregation_queries` over joined orders, `query_engine.py`)
  * discover related keys through shared transactions; SCC is that
  * relation's directed-cycle core (mutual trade, circular flows).
  */
object Scc {

  /** `edges`: (src, dst) DIRECTED pairs. Returns (node, color,
    * in_scc) for every edge endpoint: `color` = smallest id with a
    * ≤rounds-hop path to the node; `in_scc` = the node provably sits
    * in its color root's SCC (mutual ≤rounds-hop reachability). */
  def colorScc(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"need rounds >= 0, got $rounds")
    // measured root pin; every round frame is node-grained ⊆ the edge
    // frame, so its bytes price the whole loop
    val Pinned(e, eBytes, _) = Pin(edges.select(col("src"), col("dst")))
    // eager pin: the node set feeds the self-loop edges AND the
    // round-1 color frame (two concurrent readers)
    val nodes0 = Pin(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(), eBytes).df
    // SELF-LOOP FORM for the forward coloring (guide §2.4, same move
    // as LabelProp.propagate): `min(self, in-colors)` becomes one
    // min-aggregate over the edge list augmented with a (v, v) loop
    // per node — every node is its own in-neighbor, so each round is
    // ONE colors⋈edges join + ONE dst-keyed min with NO join-back.
    // Because EVERY node carries a loop (colors covers src ∪ dst),
    // the frame stays exactly the node set each round — no filtering
    // needed, colors are bit-identical to the join-back form. The
    // per-round frame is referenced once (next round's join), so the
    // pin is LAZY — lineage truncation without a driver action.
    val eAug = e.unionByName(
      nodes0.select(col("node").as("src"), col("node").as("dst")))
    var colors: DataFrame = nodes0.withColumn("color", col("node"))
    for (_ <- 1 to rounds) {
      colors = colors.join(eAug, colors("node") === eAug("src"))
        .groupBy(eAug("dst").as("node"))
        .agg(min(col("color")).as("color"))
        .transform(Pin.deferred(_, eBytes))
    }
    var flags = colors
      .select(col("node"), col("color"),
        (col("node") === col("color")).as("in_scc"))
      .transform(Pin(_, eBytes).df)
    for (_ <- 1 to rounds) {
      // flagged dst endpoints hand the flag to their in-edge srcs —
      // but only within the same color class (see scaladoc: lossless)
      val toSrc = flags.filter(col("in_scc"))
        .join(e, flags("node") === e("dst"))
        .select(e("src").as("n2"), col("color").as("c2"))
        .distinct()
      flags = flags
        .join(toSrc, flags("node") === toSrc("n2") &&
          flags("color") === toSrc("c2"), "left")
        .select(col("node"), col("color"),
          (col("in_scc") || col("n2").isNotNull).as("in_scc"))
        .transform(Pin(_, eBytes).df)
    }
    flags
  }
}
