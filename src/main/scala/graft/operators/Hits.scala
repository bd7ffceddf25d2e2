package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Pin, Pinned}

/** DataFrame-native HITS (Kleinberg hubs & authorities) — the
  * centrality that PageRank structurally cannot express on a BIPARTITE
  * lake graph: in a buyer→supplier (or query→document, crawler→host)
  * graph, "matters as a consumer of good endpoints" and "matters as an
  * endpoint good consumers pick" are two different scores, and the
  * mutual-reinforcement recurrence `a = Eᵀh, h = E·a` is their fixed
  * point. PageRank on the symmetrized graph collapses the two roles
  * into one number; HITS keeps them apart — that's the operator's
  * reason to exist next to `PageRank.pageRank`.
  *
  * Deterministic, oracle-replayable form: fixed iteration count, L1
  * normalization (divide by the mass total) after every half-step,
  * uniform start `h₀ = 1` on every source node. L1 (not the textbook
  * L2) keeps the oracle's arithmetic to sums and one division — no
  * sqrt — and yields the same ranking (normalization only rescales).
  *
  * Scale shape, per half-step: ONE broadcast-hash join of the score
  * vector onto the pinned edge list and ONE aggregate on the far
  * endpoint — identical to the PageRank superstep — plus a 1-row
  * normalizing-total aggregate that doubles as the half-step pin's
  * materialization (one driver action for both). Score vectors are (node,
  * double) narrow; like [[PageRank.pageRank]] they broadcast up to
  * ~10M nodes and fall back to a shuffle join past that. Each
  * half-step's RAW aggregate is pinned (`plans.Pin`) before
  * normalization, so iteration k's plan doesn't re-embed iterations
  * 1..k−1 and the normalizing total — which reads its input twice —
  * reads a materialized vector, not a second run of the edge join.
  */
object Hits {

  /** `edges`: directed (src, dst) hub→authority pairs, pre-deduped.
    * Returns (node, hub, auth) for every node, where hub is non-zero
    * only on sources and auth only on destinations (bipartite case);
    * on a general digraph both can be non-zero.
    *
    * `pinEachRound = false` skips the per-half-step materialization —
    * the normalization reads each vector twice, so an unpinned plan
    * doubles per half-step (2^(2·iters) copies of the first join):
    * only for tiny graphs / plan inspection. Leave it on at scale. */
  def hits(edges: DataFrame, iters: Int = 2,
      pinEachRound: Boolean = true): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    // measured root pin; score vectors are node-grained ⊆ the edge
    // frame, so its bytes price the whole loop
    val Pinned(e, eBytes, _) = Pin(edges)
    // ONE role-flagged node pass replaces the former srcs/dsts pair of
    // distinct+pin chains and their two count() jobs (4 serialized
    // driver actions → 2): `roles` is distinct on node with is-source /
    // is-destination flags, and a single 1-row aggregate serves both
    // broadcast-dispatch cardinalities. Same sets, same counts.
    // LAZY pin: the roles frame's FIRST consumer is the `cnts`
    // aggregate right below, which reads every partition — the pin
    // materializes inside the job that returns the scalar, fusing the
    // former pin-then-collect pair of driver actions into one
    // (guide §5); the role filter and final assembly re-read blocks.
    val roles = e.select(col("src").as("node"),
        lit(1).as("__s"), lit(0).as("__d"))
      .union(e.select(col("dst").as("node"),
        lit(0).as("__s"), lit(1).as("__d")))
      .groupBy(col("node"))
      .agg(max(col("__s")).as("__s"), max(col("__d")).as("__d"))
      .transform(Pin.deferred(_, eBytes))
    // broadcast dispatch must key on the LARGER side's cardinality:
    // the hub vector is |srcs| rows but the auth vector is |dsts| —
    // a 1M-source / 50M-destination fan-out graph would broadcast the
    // 50M-row auth frame if only nSrc were consulted
    val cnts = roles
      .agg(sum(col("__s")).as("ns"), sum(col("__d")).as("nd")).collect()(0)
    val (nSrc, nDst) = (cnts.getLong(0), cnts.getLong(1))
    require(nSrc > 0, "hits needs a non-empty edge list")
    val hint: DataFrame => DataFrame =
      if (math.max(nSrc, nDst) <= 10_000_000L) broadcast else identity

    // PIN + L1-NORMALIZE each raw half-step in ONE driver action: the
    // raw vector is lazy-pinned and its L1 total collected immediately
    // — the scalar's aggregate job is the pin's first (and only
    // concurrent) reader, so it materializes the blocks and truncates
    // lineage before any other reference exists (the counted-pin
    // pattern, guide §5), and the normalization becomes a constant
    // division over the pinned vector. The former shape — lazy pin +
    // crossJoin(broadcast(total)) with the NEXT half-step broadcasting
    // the normalized form — left the unmaterialized pin with TWO
    // concurrent first readers (the total's broadcast future and the
    // next superstep's broadcast future both fire at plan-construction
    // time), and concurrent first readers of a lazy local checkpoint
    // each recompute the untruncated subtree: nested across 2·iters
    // half-steps that is the 2^(2·iters) plan this pin exists to
    // prevent — measured as nondeterministic 2.5 s ↔ 22.6 s passes of
    // graph_hits in the round-13 full bench (vs a stable 4.0 s pin).
    // One collect per half-step (4 total) buys back the determinism;
    // the mass total's value is identical (same two-phase aggregate).
    def pinL1(raw: DataFrame, c: String): DataFrame =
      if (pinEachRound) {
        val pinned = Pin.deferred(raw, eBytes)
        val tot = pinned.agg(sum(col(c))).collect()(0).getDouble(0)
        pinned.select(col("node"), (col(c) / lit(tot)).as(c))
      } else
        raw.crossJoin(broadcast(raw.agg(sum(col(c)).as("__tot"))))
          .select(col("node"), (col(c) / col("__tot")).as(c))

    var hub = roles.filter(col("__s") === 1)
      .select(col("node"), lit(1.0).as("hub"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // pin the RAW half-step, not the normalized form: the L1 total
      // reads the raw vector once more than the next superstep does,
      // so normalizing an unpinned frame would run the edge join twice
      // per half-step — measured 1.8× the PageRank superstep cost
      // before this ordering
      auth = pinL1(e.join(hint(hub), col("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("auth"))
        .select(col("dst").as("node"), col("auth")), "auth")
      hub = pinL1(e.join(hint(auth), col("dst") === col("node"))
        .groupBy(col("src")).agg(sum(col("auth")).as("hub"))
        .select(col("src").as("node"), col("hub")), "hub")
    }
    roles.select(col("node")) // = srcs ∪ dsts, already distinct
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
  }
}
