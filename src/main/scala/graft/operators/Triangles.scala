package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting by DEGREE-ORDERED edge orientation —
  * the classic skew-proof formulation (Suri & Vassilvitskii's MR
  * algorithm; Schank-Wagner sequentially): orient every undirected
  * edge from its lower-(degree, id) endpoint to the higher one, build
  * wedges only from each node's OUT-edges, and close them against the
  * oriented edge list. Each triangle is counted exactly once (at its
  * smallest-in-order apex).
  *
  * Why orientation matters at scale: wedge generation is quadratic in
  * per-node OUT-degree. Un-oriented, a hub with degree d emits d²
  * wedges (a celebrity node in a social graph, a staple part in a
  * co-purchase graph → one straggler task). Degree-ordering bounds
  * every out-degree by O(√m) (a node keeps only neighbors of equal or
  * larger degree), so the wedge stage is balanced regardless of the
  * degree distribution — same motivation as the salted joins in
  * plans/Scale.scala, achieved by ordering instead of salting. The
  * id-ordered naive form produces the same COUNT (any total order
  * does) and is what the DuckDB oracle replays.
  */
object Triangles {

  /** Global triangle census of an undirected graph. `edges` must hold
    * one row per undirected edge as (`srcCol`, `dstCol`) — duplicates
    * and self-loops are cleaned here; orientation of the input rows
    * is irrelevant (rows are canonicalized first).
    *
    * Output: one row — `n_nodes`, `n_edges`, `n_triangles`, and
    * `clustering` = 3·triangles / open+closed wedge count (the global
    * clustering coefficient), rounded to `roundTo`.
    */
  def census(edges: DataFrame, srcCol: String, dstCol: String,
      roundTo: Int = 6): DataFrame = {
    // canonicalize: undirected edge stored once as (lo, hi), loops out.
    // The canonical edge list feeds FOUR consumers (degree table,
    // orientation, wedge close, edge count) across separate jobs —
    // materialize it ONCE via eager localCheckpoint so the upstream
    // edge construction never re-runs, the standard lineage cut every
    // distributed graph engine makes before fanning out. Checkpoint,
    // not persist(): a returned-plan operator has no scope to
    // unpersist, and persist entries sit in the CacheManager forever;
    // checkpoint blocks are ContextCleaner-freed when the plan is
    // dropped. Same for the degree table.
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")
        && col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .transform(graft.plans.Pin(_).df)

    val deg = e.select(col("u").as("x"))
      .unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
      .transform(graft.plans.Pin(_).df)

    // orient by (degree, id): src ≺ dst. The degree join is two hash
    // joins against a node-cardinality table.
    val du = deg.select(col("x").as("u"), col("d").as("du"))
    val dv = deg.select(col("x").as("v"), col("d").as("dv"))
    val oriented = e.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv")
          || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"),
            col("du").as("ds"), col("dv").as("dt")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"),
            col("dv").as("ds"), col("du").as("dt"))).as("o"))
      .select(col("o.s").as("s"), col("o.t").as("t"),
        col("o.ds").as("ds"), col("o.dt").as("dt"))

    // wedges from each apex's out-edges, ordered so (a ≺ b); closing
    // edge must then be oriented a→b by construction of the order
    val left = oriented.select(col("s"), col("t").as("a"),
      col("dt").as("da"))
    val right = oriented.select(col("s"), col("t").as("b"),
      col("dt").as("db"))
    val wedges = left.join(right, Seq("s"))
      .filter(col("da") < col("db")
        || (col("da") === col("db") && col("a") < col("b")))
    val closed = wedges.join(
      oriented.select(col("s").as("a"), col("t").as("b")), Seq("a", "b"),
      "left_semi")

    // ONE driver action for all three scalar censuses (triangle count,
    // edge count, node/wedge census) instead of three serialized jobs:
    // the same-schema aggregates union into a single 3-row collect, and
    // the three subtrees run as parallel stages of one job — the
    // §2.6 overlap move applied to the operator's own scalar tail.
    // Σ d(d−1)/2 over the UNDIRECTED degrees = open + closed wedges.
    val statRows = closed.agg(count(lit(1)).cast("long").as("v1"),
        lit(null).cast("double").as("v2"))
      .select(lit(0).as("k"), col("v1"), col("v2"))
      .unionAll(e.agg(count(lit(1)).cast("long").as("v1"),
          lit(null).cast("double").as("v2"))
        .select(lit(1).as("k"), col("v1"), col("v2")))
      .unionAll(deg.agg(count(lit(1)).cast("long").as("v1"),
          sum(col("d") * (col("d") - 1)).cast("double").as("v2"))
        .select(lit(2).as("k"), col("v1"), col("v2")))
      .collect().map(r => r.getInt(0) -> r).toMap
    val nTri = statRows(0).getLong(1)
    val nEdges = statRows(1).getLong(1)
    val nNodes = statRows(2).getLong(1)
    val nWedges = statRows(2).getDouble(2) / 2.0
    e.unpersist()
    deg.unpersist()
    val out = e.sparkSession.range(1)
      .select(lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
        lit(nTri).as("n_triangles"),
        round(lit(if (nWedges == 0) 0.0 else 3.0 * nTri / nWedges),
          roundTo).as("clustering"))
    out
  }
}
