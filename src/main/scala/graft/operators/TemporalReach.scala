package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.{Pin, Pinned}

/** Earliest-arrival reachability over a TEMPORAL directed graph —
  * edges carry timestamps and a path is valid only if it respects
  * time (each edge departs no earlier than the path arrived at its
  * source). This is the event-flow question static reachability
  * cannot answer: "what could this order have influenced DOWNSTREAM
  * IN TIME?" — contamination/lineage radius over trade events, the
  * temporal member of the graph family beside BFS hops, PageRank,
  * k-core, min-label communities, Bellman–Ford, and SCC coloring.
  *
  * Dynamic program: `arrival(v)` = min over time-respecting ≤R-hop
  * paths of the last edge's timestamp. Min-arrival is a sound DP
  * grain — an earlier arrival at v admits a SUPERSET of v's onward
  * edges (`ts ≥ arrival`), so dominated (later) arrivals can never
  * reach anything the minimum cannot. Each round relaxes every edge
  * once: one labels⋈edges hash join keyed on src (the temporal gate
  * `e.ts ≥ arrival` rides the join as a residual predicate — one
  * label per node, so still Θ(edges) work), one min-aggregate keyed
  * on dst, one full-outer merge back. Per-round `localCheckpoint`,
  * same superstep scale shape as [[CheapestPath]].
  *
  * Reference behavior anchor: the lake's time-windowed relationship
  * rollups (`aggregation_queries` over orders/events) ask which keys
  * interacted within a window; this op closes that relation over
  * time-ordered multi-hop chains.
  */
object TemporalReach {

  /** `edges`: (src, dst, ts) directed timestamped pairs; `sources`:
    * (node) frontier seeds, all starting at `startTs` (must not be
    * after the earliest edge a seed should be allowed to take).
    * Returns (node, arrival) for every node with a time-respecting
    * ≤`rounds`-hop path from a seed — seeds themselves at `startTs`. */
  def earliestArrival(edges: DataFrame, sources: DataFrame,
      startTs: Column, rounds: Int): DataFrame = {
    require(rounds >= 0, s"need rounds >= 0, got $rounds")
    // measured root pin; arrival frames are node-grained ⊆ the edge
    // frame, so its bytes price the whole loop
    val Pinned(e, eBytes, _) =
      Pin(edges.select(col("src"), col("dst"), col("ts")))
    var labels = sources.select(col("node")).distinct()
      .withColumn("arrival", startTs.cast(e.schema("ts").dataType))
      .transform(Pin(_, eBytes).df)
    for (_ <- 1 to rounds) {
      val relax = labels
        .join(e, labels("node") === e("src") &&
          e("ts") >= labels("arrival"))
        .groupBy(e("dst").as("n2"))
        .agg(min(e("ts")).as("arr2"))
      labels = labels
        .join(relax, labels("node") === relax("n2"), "full")
        .select(
          coalesce(col("node"), col("n2")).as("node"),
          // explicit two-sided coalesce instead of bare least(): both
          // engines then agree on one-sided-null merges by construction
          least(coalesce(col("arrival"), col("arr2")),
            coalesce(col("arr2"), col("arrival"))).as("arrival"))
        .transform(Pin(_, eBytes).df)
    }
    labels
  }
}
