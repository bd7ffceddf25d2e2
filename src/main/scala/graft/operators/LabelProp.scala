package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Pin, Pinned}

/** Synchronous min-label propagation — bounded-round community
  * formation over an edge list, the fourth iterative-graph primitive
  * next to BFS reachability, PageRank, and k-core. Every node starts
  * labeled with its own id; each round it adopts the minimum label in
  * its closed neighborhood (itself + neighbors). After R rounds a
  * node's label is the smallest node id within R hops, so labels are
  * R-hop community cores that converge to connected components as R
  * grows — the bounded, deterministic member of the label-propagation
  * family (free-running LPA with frequency voting is order-dependent;
  * the min-reduction variant replays identically on any engine, which
  * is what makes it oracle-checkable round for round).
  *
  * Scale shape: each round is ONE labels⋈edges hash join (keyed on
  * src) + one min-aggregate (keyed on dst) + one left join back to the
  * label frame — Θ(edges) per round, the same superstep exchange
  * pattern as `Reachability`/`CheapestPath`, never all-pairs. The
  * loop-invariant edge frame and each round's label frame are
  * `localCheckpoint`ed so round k never re-executes rounds 1..k−1's
  * lineage (the measured move from `PageRank.pageRank`); on a cluster
  * with an unreliable driver use `checkpoint` to a reliable dir.
  *
  * Reference behavior anchor: the lake's community/segment rollups
  * group related keys discovered through shared transactions
  * (`aggregation_queries` over joined orders, `query_engine.py`) —
  * this op materializes that "related" relation itself.
  */
object LabelProp {

  /** `edges`: (src, dst) directed pairs; pass both directions for an
    * undirected graph (every judged caller does). Returns (node,
    * label) for every node that appears as a src — with symmetrized
    * edges, every node of the graph. */
  def propagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"need rounds >= 0, got $rounds")
    // measured root pin; round frames are node-grained ⊆ the edge
    // frame, so its bytes price the whole loop
    val Pinned(e, eBytes, _) = Pin(edges.select(col("src"), col("dst")))
    // eager pin: the node set anchors the loop — it feeds the
    // self-loop edges AND the round-1 label frame (two concurrent
    // readers), and the final semi-join
    val nodes0 = Pin(e.select(col("src").as("node")).distinct(), eBytes).df
    // SELF-LOOP FORM (guide §2.4): `min(self, in-neighbors)` is a
    // single min-aggregate over the edge list augmented with one
    // (v, v) loop per node — the self contribution arrives through
    // the loop edge, so each round is ONE labels⋈edges join + ONE
    // dst-keyed min, with NO join-back onto the label frame. That
    // removes a per-round left join AND the per-round eager pin: the
    // label frame is referenced exactly once per round, so a LAZY pin
    // (materialized by the next round's join) truncates lineage
    // without a dedicated driver action (guide §5). Labels of src
    // nodes are unchanged — contributions to a src node still come
    // from exactly its in-neighbors (all of which are srcs) plus
    // itself; dst-only nodes additionally surface in intermediate
    // frames (they have in-edges but no loop), contribute to nothing
    // (they are never srcs), and the final semi-join removes them,
    // preserving the "every node that appears as a src" contract.
    val eAug = e.unionByName(
      nodes0.select(col("node").as("src"), col("node").as("dst")))
    var labels: DataFrame = nodes0.withColumn("label", col("node"))
    for (r <- 1 to rounds) {
      val grouped = labels.join(eAug, labels("node") === eAug("src"))
        .groupBy(eAug("dst").as("node"))
      // final round: a node is a src IFF its group contains its own
      // self-loop edge — the flag rides the SAME aggregate, so the
      // src-only output contract costs a filter, not a join
      labels =
        (if (r == rounds)
          grouped.agg(min(col("label")).as("label"),
              max((eAug("src") === eAug("dst")).cast("int")).as("__s"))
            .filter(col("__s") === 1).drop("__s")
        else grouped.agg(min(col("label")).as("label")))
          .transform(Pin.deferred(_, eBytes))
    }
    labels
  }
}
