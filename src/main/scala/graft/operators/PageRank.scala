package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Pin, Pinned}

/** DataFrame-native PageRank — fixed-iteration power method over an
  * edge list, the second iterative-graph primitive next to connected
  * components (`dedup/Cluster.scala`). Centrality over entity graphs
  * mined from the lake (co-purchase, citation, link graphs) is the
  * standard "which nodes matter" rollup an analytics engine owes its
  * users once it has join + aggregate.
  *
  * Simplified (no dangling-mass redistribution): callers hand in a
  * graph where every node has out-degree ≥ 1 — e.g. symmetrized
  * bipartite edges, as `graph_pagerank` does — and the recurrence is
  * the textbook `r' = (1−d)/N + d·Σ r(src)/outdeg(src)`.
  *
  * Scale shape: per iteration ONE shuffle join of ranks onto edges
  * (hash-partitioned by src) and ONE aggregate shuffle on dst — the
  * same exchange pattern GraphX's Pregel emits per superstep, minus
  * its RDD overhead. Ranks stay (node, double) narrow; edges carry a
  * precomputed 1/outdeg so the loop never re-aggregates degrees. The
  * deterministic fixed-iteration form (vs convergence-test) is what
  * makes the result oracle-replayable; production callers loop until
  * `Σ|Δ|` under a tolerance instead, checkpointing every ~10 rounds
  * to cut the lineage (same move as `Cluster.distributedCC`).
  */
object PageRank {

  /** `edges`: (src, dst) string node ids, pre-deduplicated. Returns
    * (node, rank) after `iters` rounds from a uniform start.
    *
    * The loop-invariant frames (nodes, weighted edges) are
    * materialized ONCE via `localCheckpoint` before the loop — without
    * that, every superstep's plan re-embeds the whole edge-derivation
    * subtree (which may itself be a multi-table join, as in
    * `graph_pagerank`) and iteration k pays for iterations 1..k-1
    * again: measured 9.5 s → ~1.5 s at sf0.1 for 3 supersteps. On a
    * cluster with an unreliable driver, `checkpoint` to a reliable
    * dir replaces `localCheckpoint` (same contract as
    * `Cluster.distributedCC`). */
  def pageRank(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    // Materialize the edge list FIRST: `nodes` and `contribEdges` each
    // checkpoint their own lineage, and without this both would re-run
    // the caller's edge-derivation subtree (a multi-table join +
    // distinct in `graph_pagerank`) — the derivation must run once,
    // not once per loop-invariant frame.
    // the ROOT pin is measured (SER-first); every dependent frame is
    // ⊆ the edge frame, so its measured bytes price the rest of the
    // operator in one-shot hinted pins — no per-frame re-measurement
    val Pinned(e, eBytes, _) = Pin(edges)
    // pin+count in ONE driver action (guide §5): the pin's
    // materialization job IS the count
    val Pinned(nodes, _, n) = Pin(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(), eBytes)
    require(n > 0, "pageRank needs a non-empty edge list")
    val teleport = (1.0 - damping) / n
    // one aggregate, then ride along on every iteration's edge join
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // LAZY pin: contribEdges' consumers are the per-iteration superstep
    // joins, which execute strictly one after another inside the final
    // action (each gated on the previous broadcast), so the first
    // probe materializes the blocks and the rest re-read them — no
    // dedicated driver action needed (guide §5)
    val contribEdges = e.join(outdeg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w"))
      .transform(Pin.deferred(_, eBytes))
    // The superstep join's SMALL side is the rank vector — (node,
    // double), 16 bytes a row — while the edge list is the frame that
    // must never move. A checkpoint erases the edge frame's partitioning
    // metadata, so a shuffle join would re-exchange ALL edges every
    // iteration; broadcasting the ranks instead leaves edges in place
    // (scan → broadcast-hash probe → map-side partial aggregate, one
    // small exchange of per-partition partial masses per superstep).
    // A rank vector fits a broadcast up to ~10M nodes (~160 MB); past
    // that the shuffle join is the right plan, so dispatch on n — the
    // scalar this function already computes.
    val hintRanks: DataFrame => DataFrame =
      if (n <= 10_000_000L) broadcast else identity
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val sums = contribEdges.join(hintRanks(ranks), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") * col("w")).as("mass"))
      ranks = nodes.join(sums, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(teleport) + lit(damping) * coalesce(col("mass"), lit(0.0)))
            .as("rank"))
    }
    ranks
  }

  /** Personalized PageRank: the teleport mass returns to a SEED SET
    * instead of spreading uniformly — the "relevance to these
    * entities" centrality behind recommendation ("suppliers that
    * matter to nation-7 customers"), local community scoring, and
    * seed-expansion labeling, none of which global PageRank can
    * answer (its scores are query-independent by construction).
    *
    * Recurrence: `r' = (1−d)·π + d·Σ r(src)/outdeg(src)` with π the
    * uniform distribution over `seeds` — the only change from
    * [[pageRank]] is the teleport VECTOR, so the superstep cost is
    * identical: one broadcast-hash join of the rank vector onto the
    * pinned edges plus one aggregate per iteration. The seed
    * indicator is joined once, pinned, and reused every round. Same
    * no-dangling-redistribution simplification as [[pageRank]] (mass
    * reaching a sink leaves the system), which is what keeps the
    * recurrence oracle-replayable as an unrolled CTE.
    *
    * `seeds`: one `node` column; ids outside the graph are ignored. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    // r₀ divides by (1−d): damping = 1.0 would make every rank 0/0 =
    // NaN and return silently-poisoned results instead of failing fast
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    val Pinned(e, eBytes, _) = Pin(edges)
    val Pinned(nodes, _, n) = Pin(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(), eBytes)
    require(n > 0, "personalizedPageRank needs a non-empty edge list")
    // teleport vector in ONE pinned pass: the former sd-pin → count →
    // tele-pin chain serialized three driver actions where the
    // seed-flagged node frame needs one pin plus a 1-row aggregate
    // (the Hits roles consolidation, same reasoning). Seeds outside
    // the node set never appear (left join FROM nodes), matching the
    // old inner join's drop semantics; the flagged frame doubles as
    // the r₀ = π/(1−d) start below. The pin is LAZY: its first
    // consumer — the nSeeds aggregate right here — reads every
    // partition, materializing the blocks in the same action that
    // returns the scalar (pin+agg in one driver action, guide §5).
    val flagged = nodes.join(
        seeds.select(col("node")).distinct().withColumn("__s", lit(1)),
        Seq("node"), "left")
      .transform(Pin.deferred(_, eBytes))
    val nSeeds = flagged.agg(sum(col("__s"))).collect()(0) match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    require(nSeeds > 0, "personalizedPageRank needs ≥ 1 seed in-graph")
    val tele = flagged.select(col("node"),
      when(col("__s").isNotNull, lit((1.0 - damping) / nSeeds))
        .otherwise(lit(0.0)).as("tele"))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // lazy for the same consumers-are-sequential reason as pageRank
    val contribEdges = e.join(outdeg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("w"))
      .transform(Pin.deferred(_, eBytes))
    val hintRanks: DataFrame => DataFrame =
      if (n <= 10_000_000L) broadcast else identity
    var ranks = tele.select(col("node"),
      (col("tele") / lit(1.0 - damping)).as("rank")) // r₀ = 1/|S| on seeds
    for (_ <- 1 to iters) {
      val sums = contribEdges.join(hintRanks(ranks), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") * col("w")).as("mass"))
      ranks = tele.join(sums, col("node") === col("dst"), "left")
        .select(col("node"),
          (col("tele") + lit(damping) * coalesce(col("mass"), lit(0.0)))
            .as("rank"))
    }
    ranks
  }
}
