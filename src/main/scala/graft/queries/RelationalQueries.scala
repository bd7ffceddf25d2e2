package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Core relational operators over the lake star schema: group-by
  * aggregation (SURVEY.md §2.5 A1–A10), joins (§2.4 J1–J3), windows /
  * sorts / limits (§2.6 W1–W4), set ops (§2.7).
  *
  * Scale notes are per query; the common rules: small dims broadcast,
  * aggregates are hash-aggs with map-side partials, every window is
  * partitioned (no global single-partition windows), orderings exist
  * only at the final (judged) output edge.
  */
object RelationalQueries extends QuerySection {
  import Catalog.Q

  /** A1 group-by aggregate — TPC-H Q1 shape. The reference's
    * AggregationTransformer (data_transformers.py:227-288) buffers all
    * records in driver memory then runs pandas groupby; here the same
    * count/sum/avg/min/max family is a distributed hash aggregate. */
  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** J1 multi-source merge-by-key (test_system_integration.py:200-226):
    * relational users left-joined to per-user document-store activity.
    * The aggregate side shrinks to ≤|users| rows before the join. */
  private def j1MergeLeftJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
    val activity = Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
    cust.join(activity, cust("c_custkey") === activity("user_id"), "left")
      .select(col("c_custkey"), col("c_name"), col("n_events"),
        col("total_value"))
      .orderBy(col("c_custkey"))
  }

  /** J2 semi join — upsert existence probe shape (base_loaders.py:159-173). */
  private def j2Semi(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey")).limit(100)
  }

  /** J2 anti join — records to insert (no existing key). */
  private def j2Anti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey")).limit(100)
  }

  /** J3 star join (TPC-H Q5 shape): fact ⋈ dims with the two tiny dims
    * broadcast — no shuffle for nation/region at any scale. */
  private def j3StarJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val c = Tables.load(s, dir, "customer")
    val n = broadcast(Tables.load(s, dir, "nation"))
    val r = broadcast(Tables.load(s, dir, "region")
      .filter(col("r_name") === "ASIA"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** J3 full-outer join of two aggregates (customer vs supplier
    * presence per nation). */
  private def j4FullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val su = Tables.load(s, dir, "supplier").groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(su, c("c_nationkey") === su("s_nationkey"), "full_outer")
      .select(coalesce(c("c_nationkey"), su("s_nationkey")).as("nationkey"),
        col("n_customers"), col("n_suppliers"))
      .orderBy(col("nationkey"))
  }

  /** Theta (non-equi) join: broadcast nested-loop over the small side,
    * immediately aggregated so nothing wide survives the join. */
  private def j5Theta(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
    val su = broadcast(Tables.load(s, dir, "supplier"))
    p.join(su, p("p_retailprice") > su("s_acctbal"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("p_brand"))
  }

  /** J11 — TPC-H Q3 shape (shipping priority): a 3-table selective
    * join (filters on ALL THREE inputs reach their scans) into a
    * high-cardinality aggregate and a top-10. The analytics query a
    * reference user runs first against the star schema
    * (`airflow/dags/multi_source_ingestion_dag.py:59`). Scale shape:
    * customer is the small post-filter side (one segment ≈ 1/5),
    * orders/lineitem shuffle on orderkey; the final top-10 is a
    * TakeOrderedAndProject over the aggregate — never a global sort
    * of the join output. */
  private def j11ShippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("order_date"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** J12 — TPC-H Q5 shape (local supplier volume): the full 6-table
    * star join — lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈
    * region — with the Q5 twist that the supplier must sit in the
    * customer's own nation (the extra `c_nationkey = s_nationkey`
    * equi-condition). Scale shape: nation/region broadcast (tiny at
    * any SF), the three big tables shuffle on their join keys, the
    * region filter prunes 4/5 of nations BEFORE the fact join via the
    * broadcast, and the aggregate collapses to ≤25 rows. PlanSpec
    * asserts the broadcasts and the absence of any cartesian. */
  private def j12LocalSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val c = Tables.load(s, dir, "customer")
    val su = Tables.load(s, dir, "supplier")
    val n = broadcast(Tables.load(s, dir, "nation"))
    val r = broadcast(Tables.load(s, dir, "region")
      .filter(col("r_name") === "EUROPE"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey") &&
        c("c_nationkey") === su("s_nationkey"))
      .join(n, su("s_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  /** J13 — TPC-H Q8 shape (national market share): 7 relations
    * (nation joined twice: once for the customer's region gate, once
    * for the supplier's identity), part-type filter, two-year window,
    * then one nation's share of yearly volume. The conditional-sum /
    * total-sum division happens AFTER the aggregate collapses to one
    * row per year — no re-join of aggregates. Scale shape: the selective
    * part filter drives the fact reduction (join partkey first), dims
    * broadcast, everything else shuffles on its key once. */
  private def j13MarketShare(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part").filter(col("p_type") === "PROMO")
    val li = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val c = Tables.load(s, dir, "customer")
    val su = Tables.load(s, dir, "supplier")
    val custNation = broadcast(Tables.load(s, dir, "nation")
      .select(col("n_nationkey").as("cn_nationkey"),
        col("n_regionkey").as("cn_regionkey")))
    val suppNation = broadcast(Tables.load(s, dir, "nation")
      .select(col("n_nationkey").as("sn_nationkey"),
        col("n_name").as("supp_nation")))
    val r = broadcast(Tables.load(s, dir, "region")
      .filter(col("r_name") === "AMERICA"))
    val vol = round(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(custNation, c("c_nationkey") === col("cn_nationkey"))
      .join(r, col("cn_regionkey") === r("r_regionkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .join(suppNation, su("s_nationkey") === col("sn_nationkey"))
      .select(year(col("o_orderdate")).as("o_year"), vol.as("volume"),
        col("supp_nation"))
      .groupBy(col("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === "NATION_1", col("volume"))
          .otherwise(0.0)), 2).as("nation_volume"),
        round(sum(col("volume")), 2).as("total_volume"))
      .withColumn("mkt_share",
        round(col("nation_volume") / col("total_volume"), 4))
      .orderBy(col("o_year"))
  }

  /** J20 — TPC-H Q7 shape (volume shipping): bilateral trade between
    * two chosen nations by ship year — supplier in one, customer in
    * the other, BOTH directions, so the nation pair is part of the
    * group key and the two dim filters compose with OR across sides.
    * Scale shape: both nation dims broadcast with their side filter
    * ALREADY applied (each keeps 2 of 25 rows), so supplier and
    * customer shrink at their own joins BEFORE touching the fact;
    * lineitem's ship-date filter is scan-pushed; the OR-of-pairs
    * predicate evaluates on broadcast columns at probe time, never a
    * shuffle; the final aggregate is (2 pairs × years)-bounded. */
  private def j20VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val nA = "NATION_3"
    val nB = "NATION_7"
    val suppNation = broadcast(Tables.load(s, dir, "nation")
      .filter(col("n_name").isin(nA, nB))
      .select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation")))
    val custNation = broadcast(Tables.load(s, dir, "nation")
      .filter(col("n_name").isin(nA, nB))
      .select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation")))
    val su = Tables.load(s, dir, "supplier")
      .join(suppNation, col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val c = Tables.load(s, dir, "customer")
      .join(custNation, col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("cust_nation"))
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
    li.join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .filter((col("supp_nation") === nA && col("cust_nation") === nB) ||
        (col("supp_nation") === nB && col("cust_nation") === nA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        2).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** J14 — TPC-H Q10 shape (returned-item reporting): which customers
    * drove the most revenue in RETURNED items over a half-year window.
    * 4-table join where the grain of the aggregate is the CUSTOMER
    * (high cardinality — unlike j12/j13's ≤25-row nation rollups), so
    * the group-by shuffle is the dominant exchange and the top-20 is a
    * TakeOrderedAndProject over it. Scale shape: the `l_returnflag='R'`
    * and half-year `o_orderdate` filters reach both fact scans
    * (PushedFilters), nation broadcasts, customer shuffles once on
    * custkey — the same exchange the aggregate reuses. */
  private def j14ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-07-01"))
    val c = Tables.load(s, dir, "customer")
    val n = broadcast(Tables.load(s, dir, "nation"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("acctbal"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  /** J15 — TPC-H Q18 shape (large-volume orders): a group-by-HAVING
    * derived table (orders whose total quantity exceeds a threshold)
    * semi-joined back into the 3-table detail join. Scale shape: the
    * HAVING aggregate runs FIRST and collapses lineitem to ≤|orders|
    * rows of (orderkey) — the semi-join probe side — so the expensive
    * detail join only sees the ~1 % of orders that survive; both
    * lineitem passes shuffle on orderkey and AQE can reuse the
    * exchange. Never materializes the unfiltered 3-table join. */
  private def j15BigOrders(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 250)
      .select(col("l_orderkey").as("big_orderkey"))
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    li.join(big, li("l_orderkey") === col("big_orderkey"), "left_semi")
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        round(col("o_totalprice"), 2).as("totalprice"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"))
      .orderBy(desc("totalprice"), col("o_orderkey"))
      .limit(100)
  }

  /** J16 — TPC-H Q21 shape (suppliers who kept the order waiting):
    * finished multi-supplier orders where EXACTLY ONE supplier shipped
    * late — the classic exists/not-exists pair, re-expressed as ONE
    * aggregate over the order (distinct suppliers vs distinct late
    * suppliers) instead of two correlated self-joins of lineitem.
    * Scale shape: Q21's textbook plan re-scans lineitem three times
    * (base + exists + not-exists); this form scans it once, shuffles
    * once on orderkey, and the `n_supp > 1 AND n_late = 1` filter plus
    * `max(late suppkey)` recovers the sole culprit without a join
    * back to the detail. Supplier names arrive by broadcast. */
  private def j16WaitingSupplier(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
    val li = Tables.load(s, dir, "lineitem")
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
    val culprit = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(late, col("l_suppkey"))).as("n_late"),
        max(when(late, col("l_suppkey"))).as("late_suppkey"))
      .filter(col("n_supp") > 1 && col("n_late") === 1)
    val su = broadcast(Tables.load(s, dir, "supplier"))
    culprit.join(su, col("late_suppkey") === su("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_waiting_orders"))
      .orderBy(desc("n_waiting_orders"), col("s_suppkey"))
      .limit(50)
  }

  /** J17 — bloom-filter semi-join reduction
    * (`operators/BloomReduce.scala`): lineitem is pre-filtered by a
    * 1 MiB bloom of the surviving suppliers' keys BEFORE its shuffle,
    * then inner-joined and aggregated. The oracle is the PLAIN join —
    * proving the bloom adds no false negatives and the join removes
    * its false positives. Scale shape: at 100 TB the bloom prunes the
    * fact exchange by the dim's selectivity at the scan stage; the
    * dim is scanned once to build the filter (bounded 1 MiB driver
    * object), and the plan's only wide exchanges are the reduced
    * fact shuffle and the final ≤|supplier| aggregate. */
  private def j17BloomReduced(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val su = Tables.load(s, dir, "supplier")
      .filter(col("s_acctbal") > 6000)
    graft.operators.BloomReduce
      .bloomReducedJoin(li, col("l_suppkey"), su, "s_suppkey")
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("s_suppkey"))
      .limit(20)
  }

  /** Iterative-graph centrality (`operators/PageRank.scala`): PageRank
    * over the symmetrized customer↔supplier co-purchase graph (edge =
    * "this customer bought from this supplier", both directions, so
    * every node has out-degree ≥ 1 and the simplified recurrence is
    * exact). 3 fixed iterations from a uniform start, judged against
    * the same power method unrolled as chained CTEs in DuckDB. Scale:
    * the per-iteration cost is one ranks⋈edges shuffle join + one dst
    * aggregate — supersteps, not supersteps² — and the edge list with
    * precomputed 1/outdeg is built once. */
  private def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    // long node ids (even = customer, odd = supplier) keep every
    // superstep join/agg hashing longs; the readable "c…"/"s…" labels
    // exist only in the judged projection
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cnode"),
        (col("l_suppkey") * 2 + 1).as("snode"))
      .distinct()
    val edges = pairs.select(col("cnode").as("src"), col("snode").as("dst"))
      .union(pairs.select(col("snode").as("src"), col("cnode").as("dst")))
    graft.operators.PageRank.pageRank(edges, iters = 3)
      .select(
        when(col("node") % 2 === 0, concat(lit("c"), (col("node") / 2)
          .cast("long")))
          .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
          .as("node"),
        round(col("rank"), 6).as("rank"))
      .orderBy(desc("rank"), col("node"))
      .limit(50)
  }

  /** HITS hubs & authorities (`operators/Hits.scala`) on the DIRECTED
    * bipartite trade graph (customer → supplier): the two-role
    * centrality the symmetrized-PageRank query collapses — "customer
    * whose orders reach the best suppliers" (hub) vs "supplier the
    * best customers buy from" (authority) are judged as separate
    * rankings, top-25 each. 2 mutual-reinforcement rounds with L1
    * normalization, replayed by the oracle as an unrolled CTE. */
  private def graphHits(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // pin once: the hits() result frame is lazy (final assembly joins
    // + last-round normalizations over the pinned half-steps), and the
    // two role filters below would otherwise each re-execute it
    val out = graft.plans.Pin(
      graft.operators.Hits.hits(edges, iters = 2)).df
    val lbl = when(col("node") % 2 === 0,
        concat(lit("c"), (col("node") / 2).cast("long")))
      .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
    val auths = out.filter(col("node") % 2 =!= 0)
      .select(lit("auth").as("role"), lbl.as("node"),
        round(col("auth"), 6).as("score"))
      .orderBy(desc("score"), col("node")).limit(25)
    val hubs = out.filter(col("node") % 2 === 0)
      .select(lit("hub").as("role"), lbl.as("node"),
        round(col("hub"), 6).as("score"))
      .orderBy(desc("score"), col("node")).limit(25)
    auths.unionByName(hubs)
      .orderBy(col("role"), desc("score"), col("node"))
  }

  /** Personalized PageRank (`PageRank.personalizedPageRank`): teleport
    * mass returns to the nation-7 customer seed set, so ranks answer
    * "which trade partners matter TO THESE customers" — the
    * query-dependent centrality behind recommendation and seed
    * expansion that the global `graph_pagerank` cannot express. Same
    * symmetrized co-purchase graph and superstep shape; only the
    * teleport vector differs. 3 rounds, oracle-unrolled. */
  private def graphPpr(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cnode"),
        (col("l_suppkey") * 2 + 1).as("snode"))
      .distinct()
    val edges = pairs.select(col("cnode").as("src"), col("snode").as("dst"))
      .union(pairs.select(col("snode").as("src"), col("cnode").as("dst")))
    val seeds = Tables.load(s, dir, "customer")
      .filter(col("c_nationkey") === 7)
      .select((col("c_custkey") * 2).as("node"))
    graft.operators.PageRank.personalizedPageRank(edges, seeds, iters = 3)
      .select(
        when(col("node") % 2 === 0, concat(lit("c"), (col("node") / 2)
          .cast("long")))
          .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
          .as("node"),
        round(col("rank"), 6).as("rank"))
      .orderBy(desc("rank"), col("node"))
      .limit(50)
  }

  /** Bounded-depth BFS reachability (`operators/Reachability.scala`):
    * hop distance from every nation-7 customer through the
    * high-volume (qty > 45) co-purchase graph, depth ≤ 3 — the
    * recursive-CTE workload (lineage, blast radius, escalation paths)
    * expressed as frontier supersteps, judged against DuckDB's actual
    * `WITH RECURSIVE` + min(depth). Scale: each superstep joins only
    * the frontier against edges; visited is the anti-join build side;
    * loop-invariant frames are checkpointed once. */
  private def graphReachability(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cnode"),
        (col("l_suppkey") * 2 + 1).as("snode"))
      .distinct()
    val edges = pairs.select(col("cnode").as("src"), col("snode").as("dst"))
      .union(pairs.select(col("snode").as("src"), col("cnode").as("dst")))
    val sources = Tables.load(s, dir, "customer")
      .filter(col("c_nationkey") === 7)
      .select((col("c_custkey") * 2).as("node"))
    graft.operators.Reachability.hopDistances(edges, sources, maxDepth = 3)
      .select(
        when(col("node") % 2 === 0, concat(lit("c"), (col("node") / 2)
          .cast("long")))
          .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
          .as("node"),
        col("depth"))
      .orderBy(col("depth"), col("node"))
  }

  /** k-core backbone (`operators/KCore.scala`): the dense nucleus of
    * the high-volume co-purchase graph — every surviving node keeps
    * ≥ 3 high-quantity trading partners inside the core. 4 peel
    * rounds (converged at this graph's scale; the peel is monotone so
    * extra rounds are no-ops), judged against the same rounds
    * unrolled as chained CTEs in DuckDB. Scale: each round is one
    * degree aggregate + two semi-joins on node id over a
    * monotonically shrinking edge frame — Θ(edges) per round, no
    * all-pairs shape. */
  private def graphKcore(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cnode"),
        (col("l_suppkey") * 2 + 1).as("snode"))
      .distinct()
    val edges = pairs.select(col("cnode").as("src"), col("snode").as("dst"))
      .union(pairs.select(col("snode").as("src"), col("cnode").as("dst")))
    graft.operators.KCore.kCore(edges, k = 3, rounds = 4)
      .select(
        when(col("node") % 2 === 0, concat(lit("c"), (col("node") / 2)
          .cast("long")))
          .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
          .as("node"),
        col("deg"))
      .orderBy(desc("deg"), col("node"))
  }

  /** Hop-bounded cheapest path (`operators/CheapestPath.scala`):
    * distributed Bellman–Ford from every nation-7 customer through
    * the LOW-quantity co-purchase links (edge weight = cheapest
    * supporting item's quantity, an exact integer — min-plus algebra
    * with no float drift), ≤ 3 relaxation rounds, judged against the
    * same rounds unrolled as chained CTEs in DuckDB. The weighted
    * sibling of `graph_reachability`: same superstep exchange
    * pattern (one src-keyed join + one dst min-aggregate per round),
    * but the answer is a cost, not a hop count. */
  private def graphCheapest(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") <= 10)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("cnode"),
        (col("l_suppkey") * 2 + 1).as("snode"))
      .agg(min(col("l_quantity")).cast("long").as("w"))
    val edges = pairs
      .select(col("cnode").as("src"), col("snode").as("dst"), col("w"))
      .union(pairs
        .select(col("snode").as("src"), col("cnode").as("dst"), col("w")))
    val sources = Tables.load(s, dir, "customer")
      .filter(col("c_nationkey") === 7)
      .select((col("c_custkey") * 2).as("node"))
    graft.operators.CheapestPath.cheapestPaths(edges, sources, rounds = 3)
      .select(
        when(col("node") % 2 === 0, concat(lit("c"), (col("node") / 2)
          .cast("long")))
          .otherwise(concat(lit("s"), ((col("node") - 1) / 2).cast("long")))
          .as("node"),
        col("dist"))
      .orderBy(col("dist"), col("node"))
  }

  /** Bounded-round community formation (`operators/LabelProp.scala`):
    * synchronous min-label propagation over the high-volume (qty > 45)
    * co-purchase graph, 3 rounds — each node's community id is the
    * smallest node id within 3 hops, the deterministic member of the
    * label-propagation family (frequency-voting LPA is order-
    * dependent; min-reduction replays identically anywhere), judged
    * against the same rounds unrolled as chained CTEs in DuckDB.
    * Output: community rollup (id, size, sample members) — the
    * segment-discovery shape. Scale: one labels⋈edges join + one dst
    * min-aggregate per round, Θ(edges) each, never all-pairs. */
  private def graphLabelProp(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_suppkey"))
    val pairs = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cnode"),
        (col("l_suppkey") * 2 + 1).as("snode"))
      .distinct()
    val edges = pairs.select(col("cnode").as("src"), col("snode").as("dst"))
      .union(pairs.select(col("snode").as("src"), col("cnode").as("dst")))
    graft.operators.LabelProp.propagate(edges, rounds = 3)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"),
        min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
      .orderBy(desc("n_members"), col("community"))
      .limit(100)
  }

  /** SCC coloring step (`operators/Scc.scala`) over the DIRECTED
    * trade-flow graph: high-quantity purchases point customer →
    * supplier, low-quantity ones point supplier → customer ("returns
    * direction"), so directed cycles are pairs/chains trading in both
    * regimes. 3 forward coloring rounds + 3 backward confirmation
    * rounds, judged per node against the same rounds unrolled as
    * chained CTEs in DuckDB — `in_scc = false` rows are the honest
    * unflagged remainder the full algorithm would recurse on. Scale:
    * Θ(edges) per round, superstep exchange pattern, per-round
    * localCheckpoint — the directed sibling of `graph_label_prop`. */
  private def graphScc(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 || col("l_quantity") < 5)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
    val hi = col("l_quantity") > 45
    val edges = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        when(hi, col("o_custkey") * 2).otherwise(col("l_suppkey") * 2 + 1)
          .as("src"),
        when(hi, col("l_suppkey") * 2 + 1).otherwise(col("o_custkey") * 2)
          .as("dst"))
      .distinct()
    def render(c: org.apache.spark.sql.Column) =
      when(c % 2 === 0, concat(lit("c"), (c / 2).cast("long")))
        .otherwise(concat(lit("s"), ((c - 1) / 2).cast("long")))
    graft.operators.Scc.colorScc(edges, rounds = 3)
      .select(render(col("node")).as("node"),
        render(col("color")).as("color"), col("in_scc"))
      .orderBy(col("node"))
  }

  /** Earliest-arrival TEMPORAL reachability
    * (`operators/TemporalReach.scala`): orders point customer →
    * supplier stamped with the order date, shipments point supplier →
    * customer stamped with the ship date, and a node is reached only
    * through chains whose timestamps never go backwards — the
    * blast-radius-in-time question (what could nation-7 money have
    * influenced downstream?) that static reachability overcounts.
    * 3 relaxation rounds, judged per node against the same rounds
    * unrolled as chained CTEs; min-arrival per node is the DP grain
    * (earlier arrivals admit a superset of onward edges — scaladoc).
    * Scale: Θ(edges) per round, superstep exchanges, per-round
    * localCheckpoint. */
  private def graphTemporalReach(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
    val cnode = col("o_custkey") * 2
    val snode = col("l_suppkey") * 2 + 1
    val edges = j.select(cnode.as("src"), snode.as("dst"),
        col("o_orderdate").as("ts"))
      .union(j.select(snode.as("src"), cnode.as("dst"),
        col("l_shipdate").as("ts")))
      .distinct()
    val sources = Tables.load(s, dir, "customer")
      .filter(col("c_nationkey") === 7)
      .select((col("c_custkey") * 2).as("node"))
    def render(c: org.apache.spark.sql.Column) =
      when(c % 2 === 0, concat(lit("c"), (c / 2).cast("long")))
        .otherwise(concat(lit("s"), ((c - 1) / 2).cast("long")))
    graft.operators.TemporalReach.earliestArrival(edges, sources,
        lit("1990-01-01 00:00:00").cast("timestamp"), rounds = 3)
      .select(render(col("node")).as("node"), col("arrival"))
      .orderBy(col("node"))
  }

  /** J18 — TPC-H Q2 shape (minimum-cost supplier): a correlated
    * "suppliers achieving the per-part minimum" subquery, decorrelated
    * into aggregate + equi-join. The cost relation is lineitem's unit
    * price (this data model has no partsupp; reference star schema
    * joins the same way, multi_source_ingestion_dag.py:59). Scale
    * shape: region/nation broadcast into supplier, the supplier set
    * broadcasts into lineitem (scan-stage filter — non-European rows
    * never shuffle), and both the per-(part,supplier) aggregate and
    * the per-part minimum hash on l_partkey so AQE reuses one
    * exchange; the min is joined back by (part, rounded cost) — the
    * classic decorrelation, no row ever compared twice. */
  private def j18MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val n = broadcast(Tables.load(s, dir, "nation"))
    val r = broadcast(Tables.load(s, dir, "region")
      .filter(col("r_name") === "EUROPE"))
    val su = Tables.load(s, dir, "supplier")
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_partkey") < 500 && col("l_quantity") > 0)
    // per-(part, supplier) best unit price at 4 decimals via INTEGER
    // arithmetic (exact cents × 100, truncating long division): a
    // rounded float quotient can land exactly on a half-ten-thousandth
    // where engine round() implementations split — the equality
    // join-back and the oracle must see bit-identical doubles
    val unitCost = expr(
      "(CAST(round(l_extendedprice * 100) AS BIGINT) * 100) div " +
        "CAST(l_quantity AS BIGINT)") / lit(10000.0)
    val cost = li.join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("s_suppkey"), col("s_name"),
        col("n_name"))
      .agg(min(unitCost).as("unit_cost"))
    val best = cost.groupBy(col("l_partkey").as("__pk"))
      .agg(min(col("unit_cost")).as("__min_cost"))
    cost.join(best, col("l_partkey") === col("__pk")
        && col("unit_cost") === col("__min_cost"))
      .join(broadcast(Tables.load(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey").as("partkey"), col("p_name"),
        col("s_suppkey"), col("s_name"), col("n_name"), col("unit_cost"))
      .orderBy(col("partkey"), col("s_suppkey"))
  }

  /** J19 — blocked fuzzy join (entity resolution): near-identical part
    * names found by BLOCKING on the first name token and refining with
    * codegen'd Levenshtein ≤ 3 — on the DISTINCT-NAME grain
    * (`operators/ErBlocking`). Earlier rounds refined ROW pairs, which
    * is quadratic in rows within a block (the first-token key is a
    * fixed ~8-word vocabulary here, so block sizes grow with the data:
    * ~22M kernel evaluations at sf0.1, ~220G at 100×). The kernel
    * score depends only on the strings, so the linkage factors: roll
    * up to (block, name) classes once, refine CLASS pairs (row-count
    * independent; a few hundred evaluations at any SF), and expand the
    * row-level aggregates arithmetically — `n_pairs` as Σ cnt_a·cnt_b,
    * and `n_left` (distinct smaller-side keys) via per-name key-rank
    * thresholds: a key k in class x is a LEFT key of some qualifying
    * pair at distance d iff k < max over x's distance-d partners of
    * their max key — one broadcast threshold join against the base
    * table, no pair enumeration. Row-level results are bit-identical
    * to the naive pair join (the oracle still replays THAT), and
    * `ErBlocking.requireBoundedBlocks` enforces the distinct-name cap
    * that keeps the class refine bounded — loudly, instead of the
    * previous code-comment hope. Refine order stays cheap-to-costly:
    * length gap (necessary for ed ≤ 3) before the banded threshold
    * form `levenshtein(a, b, 3)` (O(k·n), early-exit, -1 past the
    * band). */
  /** The LAZY scored-class frame of [[j19FuzzyBlocked]] — factored out
    * so LinkagePlanSpec can pin, by AST inspection, that the banded
    * Levenshtein kernel evaluates inside WholeStageCodegen (the query
    * itself checkpoints this frame, which truncates its plan). */
  private[graft] def j19Scored(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ErBlocking
    // checkpoint the rollup BEFORE the guard: the guard's collect and
    // the scored frame would otherwise each execute the full
    // nameClasses subtree (two aggregates + the TopKPerGroup pass)
    val classes = ErBlocking.nameClasses(Tables.load(s, dir, "part"),
      split(col("p_name"), " ").getItem(0), col("p_name"),
      col("p_partkey"), keepSmallest = 1)
      .transform(graft.plans.Pin(_).df)
    ErBlocking.requireBoundedBlocks(classes, 10000L, "j19_fuzzy_blocked")
    val dist3 = levenshtein(col("a_name"), col("b_name"), 3)
    ErBlocking.classPairs(classes, strict = true)
      .filter(abs(length(col("a_name")) - length(col("b_name"))) <= 3
        && dist3.between(0, 3))
      .withColumn("dist", dist3.cast("long"))
  }

  private def j19FuzzyBlocked(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
    val scored = j19Scored(s, dir)
      .transform(graft.plans.Pin(_).df) // tiny (class grain); consumed by three subtrees
    val nPairs = scored.groupBy(col("block"), col("dist"))
      .agg(sum(col("n_cross")).as("n_pairs"))
    // per (block, dist, name): the largest partner max-key — the strict
    // upper bound below which a key of `name` is the SMALLER side of
    // some qualifying pair at that distance
    val thresholds = scored
      .select(col("block"), col("dist"), col("a_name").as("name"),
        col("b_max_key").as("t"))
      .union(scored.select(col("block"), col("dist"), col("b_name"),
        col("a_max_key")))
      .groupBy(col("block"), col("dist"), col("name"))
      .agg(max(col("t")).as("t"))
    val nLeft = p.select(col("p_name"), col("p_partkey"))
      .join(broadcast(thresholds), col("p_name") === col("name")
        && col("p_partkey") < col("t"))
      .groupBy(col("block"), col("dist"))
      .agg(count(lit(1)).as("n_left"))
    nPairs.join(nLeft, Seq("block", "dist"))
      .select(col("block"), col("dist"), col("n_pairs"), col("n_left"))
      .orderBy(col("block"), col("dist"))
  }

  /** Triangle census (`operators/Triangles.scala`) of the part
    * co-purchase graph (edge = two parts share ≥ 2 orders): count by
    * DEGREE-ORDERED orientation — per-node wedge work bounded O(√m)
    * regardless of hub skew — while the oracle counts the same graph
    * with the naive id-ordered three-way join; any total order yields
    * the same census, which is exactly what the compare proves. */
  private def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val items = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      .distinct()
    val edges = items.as("a")
      .join(items.as("c"), col("a.b") === col("c.b")
        && col("a.i") < col("c.i"))
      .groupBy(col("a.i").as("u"), col("c.i").as("v"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2)
    graft.operators.Triangles.census(edges, "u", "v")
  }

  /** Market-basket association (`operators/Association.scala`): pair
    * support / confidence / lift over order baskets. The pair stage is
    * a self-join on l_orderkey — per-basket quadratic (k ≤ 13 here),
    * corpus-linear — then two broadcast joins against the item
    * frequency table; ordered by rounded lift so both engines cut the
    * same top rows. */
  private def qMarketBasket(s: SparkSession, dir: String): DataFrame =
    graft.operators.Association.pairStats(
      Tables.load(s, dir, "lineitem"), "l_orderkey", "l_partkey",
      minCo = 3L)
      .orderBy(desc("lift"), col("item_a"), col("item_b"))
      .limit(100)

  /** W2 top-k: TakeOrderedAndProject — per-partition top-k then driver
    * merge of k·partitions rows, never a global sort. */
  private def w1TopK(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(10)

  /** W4/A9 deterministic keep-last dedup: row_number over a partitioned
    * window (one shuffle on the partition key). */
  private def w2LatestPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
    Tables.load(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  /** W4 lag/lead/rank analytics per customer. */
  private def w3Lag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wr = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 2)
          .as("diff_prev"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        rank().over(wr).as("price_rank"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
      .limit(500)
  }

  /** W4 running frame aggregate (rowsBetween). */
  private def w4Running(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "lineitem")
      .filter(col("l_orderkey") < 1000)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(sum(col("l_quantity")).over(w), 2).as("run_qty"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("run_qty"))
  }

  /** W3 offset pagination (base_extractors.py:61,72) — an artifact of the
    * reference's row-iterator model; expressible but partition-parallel
    * reads are the real scan strategy. */
  private def w5Offset(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
      .offset(100).limit(50)

  /** §2.7 UNION ALL by name with missing columns nulled — the DAG's
    * heterogeneous staging-file concatenation. */
  private def setUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val a = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("value"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("props"))
    a.unionByName(b, allowMissingColumns = true).orderBy(col("event_id"))
  }

  private def setIntersect(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.load(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  private def setExcept(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey"))
      .except(Tables.load(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  /** BAG-semantics set ops (`INTERSECT ALL` / `EXCEPT ALL`):
    * multiplicities are min() / subtraction rather than membership —
    * a genuinely different operator from the distinct forms (Spark
    * plans it as a count-aggregated generate, not a semi/anti join).
    * Judged on the multiplicity profile so the bag arithmetic itself
    * is what's compared. */
  private def setIntersectAll(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey"))
      .intersectAll(Tables.load(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey")))
      .groupBy(col("nationkey")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("nationkey"))

  private def setExceptAll(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey"))
      .exceptAll(Tables.load(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey")))
      .groupBy(col("nationkey")).agg(count(lit(1)).as("multiplicity"))
      .orderBy(col("nationkey"))

  /** A2 null-percentage profile (data_validators.py:163-169): one
    * aggregate pass, counts per column. */
  private def a2NullProfile(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val cols = ev.columns.toSeq
    ev.agg(
      count(lit(1)).as("n"),
      cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))
        .as(s"nulls_$c")): _*)
  }

  /** A3 duplicate-rate profile (data_validators.py:171-177): n minus
    * distinct over the projected columns, single pass. */
  private def a3DupStats(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .agg(count(lit(1)).as("n"),
        count_distinct(struct(col("l_partkey"), col("l_suppkey")))
          .as("n_distinct"))
      .select(col("n"), col("n_distinct"),
        (col("n") - col("n_distinct")).as("dup_count"))

  /** A4 zero-variance probe (data_validators.py:180-182). */
  private def a4Variance(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .agg(round(stddev_samp(col("l_tax")), 6).as("std_tax"),
        round(stddev_samp(col("l_discount")), 6).as("std_discount"))
      .select(col("std_tax"), col("std_discount"),
        (col("std_tax") === 0.0).as("tax_zero_variance"))

  /** A8 document-store aggregation pipeline executed BY the engine
    * ($match → filter, $group → agg, $sort → orderBy, $limit), via the
    * MongoPipeline stage compiler (mongo_connector.py:225-240 hands
    * these to the database; here Catalyst runs them). */
  private def a8Pipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.MongoPipeline._
    compile(Tables.load(s, dir, "events"), Seq(
      Match(col("event_type") === "purchase" && col("value") > 50),
      Group(Seq("user_id"), Seq(("n", "count", ""), ("total", "sum", "value")))))
      .withColumn("total", round(col("total"), 2))
      .orderBy(desc("total"), col("user_id"))
      .limit(20)
  }

  /** A10 duplicate-group finder (common_utils.py:189-201). */
  private def a10DupGroups(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("first_orderkey"))
      .filter(col("n") > 1)
      .orderBy(col("l_partkey"), col("l_suppkey"))
      .limit(100)

  /** Rollup (engine extension beyond the reference — SURVEY §2.5 note). */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Cube over two dims (engine extension; grouping-sets family). */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .cube(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)

  /** W6 batch sessionization: lag-gap flags + running sum assign session
    * ids in two windows over one shuffle; identical SQL runs on DuckDB.
    * (The streaming twin is Streaming.sessionize / session_window.) */
  private def w6Sessions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val sessions = Tables.load(s, dir, "events")
      .withColumn("__new_session",
        when(col("ts").cast("long") -
          lag(col("ts"), 1).over(byUser).cast("long") > 1800L, 1L)
          .otherwise(lit(0L)))
      .withColumn("session_id", sum(col("__new_session")).over(byUser))
    sessions.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        round(sum(col("value")), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Long→wide pivot (S3 reshape surface, influx_connector.py:168-185).
    * Sums rather than avgs: the inputs are exact-2dp values, so rounded
    * sums can't land on a .005 tie that Spark and the oracle break
    * differently. */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("value")), 2))
      .orderBy(col("user_id"))

  /** J6 as-of join (union-stream form — graft.operators.AsOfJoin): each
    * click event picks up the user's most recent error at-or-before it.
    * One shuffle+sort; no range-join row explosion. */
  private def j6Asof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val probe = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val build = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"),
        col("ts").as("err_ts"), col("value").as("err_value"))
    graft.operators.AsOfJoin.backward(probe, build,
        keyCols = Seq("user_id"), tsCol = "ts",
        carryCols = Seq("err_ts", "err_value"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("err_ts"), col("err_value"))
      .orderBy(col("event_id")).limit(1000)
  }

  /** J6b forward as-of join: next error at-or-after each click, per
    * user — same single-shuffle union-stream plan as j6, frame flipped. */
  private def j6AsofFwd(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val probe = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val build = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"),
        col("ts").as("err_ts"), col("value").as("err_value"))
    graft.operators.AsOfJoin.forward(probe, build,
        keyCols = Seq("user_id"), tsCol = "ts",
        carryCols = Seq("err_ts", "err_value"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("err_ts"), col("err_value"))
      .orderBy(col("event_id")).limit(1000)
  }

  /** J6c nearest as-of join: closest error in either direction (ties
    * resolve backward); both direction carries ride one sort. */
  private def j6AsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val probe = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val build = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"),
        col("ts").as("err_ts"), col("value").as("err_value"))
    graft.operators.AsOfJoin.nearest(probe, build,
        keyCols = Seq("user_id"), tsCol = "ts",
        carryCols = Seq("err_ts", "err_value"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("err_ts"), col("err_value"))
      .orderBy(col("event_id")).limit(1000)
  }

  /** J8 skew-salted join (`Scale.saltedJoin`): events fact (user_id is
    * the skewable key) joined to the customer dim through the salted
    * replicate path, then aggregated per segment. Oracle is the PLAIN
    * join — proving salt-replicate-join-drop changes nothing. */
  private def j8SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.load(s, dir, "events")
      .select(col("user_id").as("c_custkey"), col("value"))
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    graft.plans.Scale.saltedJoin(fact, dim, "c_custkey", saltBuckets = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("c_mktsegment"))
  }

  /** W7 per-group top-k: 3 priciest orders per priority class. The
    * window ranks within each partition after a single hash exchange on
    * the group key; at scale this is the partition-parallel form of
    * top-k (the global `w1_topk` TakeOrdered shape doesn't group).
    *
    * Scale note: Spark plans the `row_number ≤ k` filter as a partial
    * `WindowGroupLimit` BEFORE the exchange (map-side top-k), so each
    * input partition ships at most k rows per group — the shuffle never
    * carries the table. The residual low-cardinality caveat is the
    * final per-group sort: k × (input partitions) rows concentrated on
    * 5 tasks (5 priority values). `w7_topk_grouped2` is the same query
    * through the salted two-phase form (`Scale.groupedTopK`), which
    * caps that final sort at k × saltBuckets rows regardless of how
    * many partitions a 100 TB scan has. */
  private def w7TopkGrouped(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.load(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_orderpriority"), col("rk").cast("long").as("rk"),
        col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderpriority"), col("rk"))
  }

  /** W7 at scale: identical semantics via the salted two-phase partial
    * top-k (`Scale.groupedTopK`) — parallelism group-count × buckets
    * instead of group-count; judged against the SAME oracle as the
    * single-window form, proving the plans interchangeable. */
  private def w7TopkGrouped2(s: SparkSession, dir: String): DataFrame =
    graft.plans.Scale.groupedTopK(
        Tables.load(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"),
            col("o_totalprice")),
        groupCols = Seq("o_orderpriority"),
        orderCols = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        k = 3, saltBuckets = 16)
      .select(col("o_orderpriority"), col("rank").cast("long").as("rk"),
        col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_orderpriority"), col("rk"))

  /** W11 window value family: first/last/nth over an unbounded frame —
    * the "compare each event to the session's first/last/third" shape.
    * Same single keyed exchange as every other per-user window. */
  private def w11ValueFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        first(col("value")).over(w).as("first_v"),
        last(col("value")).over(w).as("last_v"),
        nth_value(col("value"), 3).over(w).as("third_v"))
      .orderBy(col("event_id")).limit(2000)
  }

  /** Median + deterministic mode (ties broken by value, so the answer
    * is stable at any scale factor — the bare `mode()` aggregate is
    * tie-nondeterministic in BOTH engines). */
  private def qMedianMode(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val med = ev.agg(round(median(col("value")), 4).as("median_value"))
    val mode = ev.groupBy(col("event_type")).count()
      .orderBy(desc("count"), col("event_type"))
      .limit(1).select(col("event_type").as("mode_type"))
    med.crossJoin(mode)
  }

  /** Ordered string aggregation (string_agg/listagg twin) without
    * relying on either engine's aggregate-ordering quirks: sort the
    * collected (ts, id, type) structs, then join — deterministic by
    * construction, one keyed exchange. */
  private def qStringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("s"))
      .select(col("user_id"),
        concat_ws(",", expr("transform(s, x -> x.event_type)")).as("seq"))
      .orderBy(col("user_id")).limit(500)

  /** Semi-structured analytics: a JSON payload column feeding a
    * relational rollup — extraction stays a codegen'd projection
    * (`get_json_object`), never a driver-side parse. At 100 TB the
    * pattern argues for materializing hot JSON fields as columns;
    * this is the read-side form when that hasn't happened yet. */
  private def qJsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
        max(col("k")).as("k_max"), round(avg(col("k")), 4).as("k_avg"))
      .orderBy(col("event_type"))

  /** Calendar-function family over one projection: truncation,
    * quarter/day-of-week/day-of-year extraction, month-end, month
    * arithmetic (with end-of-month clamping), ISO week — exported as
    * strings/longs so both engines' calendar conventions are compared
    * value-for-value (Spark's 1-based Sunday dayofweek is shifted to
    * DuckDB's 0-based). */
  private def fxDatetimeFamily(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
          .as("month_start"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd")
          .as("month_end"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd")
          .as("plus3m"),
        weekofyear(col("o_orderdate")).cast("long").as("iso_week"))
      .orderBy(col("o_orderkey"))

  /** Time-series gap filling (`operators.GapFill`): a sparse daily
    * rollup (3 users only, so most days have no purchases) densified
    * onto the full January spine — counts zero-filled, averages
    * carried forward. Judged against DuckDB generate_series + IGNORE
    * NULLS last_value. */
  private def qGapFill(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(col("user_id") < 3)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_v"))
    graft.operators.GapFill.fillDaily(daily, "day", "event_type",
        "2024-01-01", "2024-01-30",
        zeroFill = Seq("n"), carryForward = Seq("avg_v"))
      .select(col("day"), col("event_type"), col("n"),
        col("avg_v").as("carried"))
      .orderBy(col("day"), col("event_type"))
  }

  /** J32 — transposition-aware blocked matching (the native
    * `damerau_levenshtein` beside j19's banded Levenshtein and j30's
    * Jaro–Winkler — the third ER refine kernel, Damerau 1964's typo
    * model where adjacent swaps count one edit): first-token blocking
    * + length-gap and banded-Levenshtein prefilters (both sound:
    * DL ≥ |len diff|, lev ≤ 2·DL) over DISTINCT name values, with
    * record-level pair counts recovered as cnt·cnt — per
    * (block, distance): value pairs, record pairs, and how many pairs
    * the transposition op strictly improved over plain Levenshtein.
    * Integer-valued throughout, zero float hazard. */
  private def j32DamerauBlocked(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftx.DamerauLevenshtein
    // DEDUPE-BEFORE-PAIR: the expensive per-pair kernel runs over
    // DISTINCT attribute values (vocabulary-bounded — SF-invariant),
    // and record-level pair counts come back as cnt_a · cnt_b. Pairing
    // raw records directly is quadratic in data size whenever the
    // value vocabulary is small relative to the table (this fixture:
    // 64 names across any SF) — the slope harness caught exactly that
    // in the first, record-level form of this query.
    val names = Tables.load(s, dir, "part")
      .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
      .withColumn("block", split(col("p_name"), " ").getItem(0))
    val dl = DamerauLevenshtein(col("a.p_name"), col("b.p_name"))
    // For every KEPT pair dl ≤ 3 ⇒ lev ≤ 2·dl ≤ 6, so the banded
    // O(k·n) threshold form IS the exact distance there — projecting it
    // (instead of a second, unbanded levenshtein call) halves the
    // dominant per-pair cost.
    val lev = levenshtein(col("a.p_name"), col("b.p_name"), 6)
    names.as("b")
      .join(broadcast(names).as("a"),
        col("a.block") === col("b.block")
          && col("a.p_name") < col("b.p_name")
          && abs(length(col("a.p_name")) - length(col("b.p_name"))) <= 3
          // sound band prefilter: one transposition costs ≤ 2
          // substitutions, so dl ≤ 3 ⇒ levenshtein ≤ 6 — the banded
          // O(k·n) threshold form prunes before any O(n·m) DL call
          && levenshtein(col("a.p_name"), col("b.p_name"), 6)
            .between(0, 6))
      .select(col("a.block").as("block"), dl.as("dl"), lev.as("lev"),
        (col("a.cnt") * col("b.cnt")).as("rp"))
      .filter(col("dl").between(1, 3))
      .groupBy(col("block"), col("dl"))
      .agg(count(lit(1)).as("n_value_pairs"),
        sum(col("rp")).as("n_record_pairs"),
        sum(when(col("dl") < col("lev"), 1L).otherwise(0L))
          .as("n_transposition_wins"))
      .orderBy(col("block"), col("dl"))
  }

  /** J33 — GLOBAL exact edit-distance self-join via PassJoin segment
    * blocking (`ErBlocking.editSegmentPairs`): all distinct-name pairs
    * within edit distance 3, with NO blocking key at all — the regime
    * j19/j30/j32 cannot enter (their first-token block drops
    * cross-block near-matches like "hot bolt"/"old bolt", ed 3; the
    * `n_cross_block` column counts exactly those recovered pairs).
    * Candidate generation is the pigeonhole segment join — blocking
    * key (target length, slot, segment text) is high-cardinality by
    * construction, probe fan-out a constant ≤ (2τ+1)²(τ+1) per string,
    * exact recall — so this is the shape that survives a corpus of
    * mostly-UNIQUE names where any vocabulary block goes quadratic.
    * Record-pair counts expand from name counts (the j32
    * dedupe-before-pair move). The oracle replays the SEMANTICS (a
    * distinct-name cross join + levenshtein, trivial at oracle scale);
    * the segment machinery is the distributed path to the same rows. */
  private def j33SegmentEr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ErBlocking
    val p = Tables.load(s, dir, "part")
    val counts = p.groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("cnt"))
    val pairs = ErBlocking.editSegmentPairs(p, "p_name", tau = 3)
      .join(counts.select(col("name").as("a_name"), col("cnt").as("a_cnt")),
        Seq("a_name"))
      .join(counts.select(col("name").as("b_name"), col("cnt").as("b_cnt")),
        Seq("b_name"))
    pairs
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_value_pairs"),
        sum(col("a_cnt") * col("b_cnt")).as("n_record_pairs"),
        sum(when(split(col("a_name"), " ").getItem(0) =!=
          split(col("b_name"), " ").getItem(0), 1L).otherwise(0L))
          .as("n_cross_block"))
      .orderBy(col("dist"))
  }

  /** J31 — NOT IN vs NOT EXISTS null semantics (the classic silent
    * data-bug): `x NOT IN (subquery)` is three-valued — ONE null in
    * the subquery makes every row UNKNOWN, so the result is EMPTY,
    * while NOT EXISTS keeps matching rows. Both branches run here and
    * the counts land side by side: the null-poisoned NOT IN must
    * count 0, the null-filtered NOT IN and NOT EXISTS must agree.
    * Spark plans the NOT IN branch as a null-aware anti join (single
    * build-side pass, no per-row subquery); the in-query require pins
    * that physical choice. */
  private def j31NotInNull(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "customer").createOrReplaceTempView("j31_cust")
    Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 100 === 0)
      .select(when(col("o_orderkey") % 1000 === 0, lit(null))
        .otherwise(col("o_custkey")).as("ck")) // planted nulls
      .createOrReplaceTempView("j31_sub")
    val notInNulls = s.sql(
      "SELECT count(*) AS n FROM j31_cust WHERE c_custkey NOT IN " +
        "(SELECT ck FROM j31_sub)")
    // Structural plan pin, scoped to the broadcast regime: every
    // broadcast-hash LeftAnti in the plan must be the null-aware form
    // (a plain anti would silently return non-empty — the exact bug
    // this query demonstrates). When the subquery outgrows the
    // broadcast threshold Spark legitimately falls back to
    // BroadcastNestedLoopJoin and the pin does not apply, so we
    // quantify over the BHJ nodes found rather than require one.
    locally {
      import org.apache.spark.sql.catalyst.plans.LeftAnti
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      val antiNodes = notInNulls.queryExecution.executedPlan.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      }
      require(antiNodes.forall(_.isNullAwareAntiJoin),
        "NOT IN planned as a broadcast anti join that is NOT " +
          "null-aware; got:\n" +
          notInNulls.queryExecution.executedPlan.toString)
    }
    val notInClean = s.sql(
      "SELECT count(*) AS n FROM j31_cust WHERE c_custkey NOT IN " +
        "(SELECT ck FROM j31_sub WHERE ck IS NOT NULL)")
    val notExists = s.sql(
      "SELECT count(*) AS n FROM j31_cust c WHERE NOT EXISTS " +
        "(SELECT 1 FROM j31_sub s WHERE s.ck = c.c_custkey)")
    notInNulls.select(lit("not_in_with_nulls").as("variant"), col("n"))
      .unionByName(notInClean
        .select(lit("not_in_clean").as("variant"), col("n")))
      .unionByName(notExists
        .select(lit("not_exists").as("variant"), col("n")))
      .orderBy(col("variant"))
  }

  /** Linear interpolation onto the daily spine
    * (`GapFill.interpolateDaily`): the events series is deliberately
    * DOWNSAMPLED to every third day (day-of-month ≡ 1 mod 3), then
    * re-gridded — interior gaps get `prev + (next−prev)·Δ/span`
    * between their nearest observations, the post-day-28 tail falls
    * back to carry-forward, and the `interpolated` flag marks which
    * rows were manufactured. The re-gridding twin of `q_gap_fill`'s
    * staircase carry-forward. */
  private def qInterpolate(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(dayofmonth(col("ts")) % 3 === 1)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(round(avg(col("value")), 4).as("v"))
    graft.operators.GapFill.interpolateDaily(daily, "day", "event_type",
        "2024-01-01", "2024-01-30", "v")
      .orderBy(col("day"), col("event_type"))
  }

  /** Retention cohort matrix: users grouped by first-seen day
    * (cohort), activity counted by day offset from that cohort — the
    * product-analytics staple. Two hash aggregates (user→cohort,
    * then (cohort, offset)→distinct users) and one broadcast-friendly
    * join of the user→cohort map back onto events; at 100 TB the
    * user dimension is the broadcast side and the event scan stays
    * shuffle-free up to the final aggregate. */
  private def qRetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("d")).as("cohort_day"))
    ev.join(cohorts, Seq("user_id"))
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .filter(col("day_offset").isin(0L, 1L, 7L, 14L, 21L))
      .orderBy(col("cohort"), col("day_offset"))
  }

  /** Cumulative DISTINCT count (running distinct users by day) — the
    * expanding-window distinct that a naive `COUNT(DISTINCT) OVER
    * (ORDER BY day)` would answer with quadratic state. The scalable
    * identity: a user contributes from their FIRST day onward, so
    * cumulative-distinct(day) = running sum of first-appearance
    * counts — two hash aggregates and one tiny ordered window over
    * day-cardinality rows. */
  private def qCumulativeDistinct(s: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(date_format(col("ts"), "yyyy-MM-dd")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    firstDay
      .withColumn("cumulative_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("day"))
  }

  /** Interval union ("active time"): merge each user's overlapping
    * activity intervals ([ts, ts + value minutes]) and sum the merged
    * durations — the island detection every session/coverage analysis
    * needs. Islands open where the interval start exceeds the running
    * max of previous ends (one keyed window), then one aggregate per
    * island: overlap never double-counts. */
  private def qIntervalUnion(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables.load(s, dir, "events")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("s"),
        // round-then-cast, not bare cast: Spark casts truncate while
        // DuckDB casts round, and the double product sits ε off an
        // integer — round() agrees bit-for-bit in both engines
        (unix_micros(col("ts").cast("timestamp")) +
          round(col("value") * 60000000L).cast("long")).as("e"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
    val prevMaxEnd = max(col("e")).over(
      byUser.rowsBetween(Window.unboundedPreceding, -1))
    val islands = iv
      .withColumn("__new", when(prevMaxEnd.isNull ||
        col("s") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(byUser))
    islands.groupBy(col("user_id"), col("__island"))
      .agg(min(col("s")).as("is_s"), max(col("e")).as("is_e"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("is_e") - col("is_s")).as("active_us"))
      .orderBy(col("user_id"))
  }

  /** W9 event-time RANGE frame: per-user rolling 1-hour sum — the
    * value-based frame (all rows within the interval), not a row-count
    * frame. Spark range frames need a numeric order key, so the frame
    * runs over epoch seconds; the oracle uses DuckDB's native
    * RANGE INTERVAL form over the timestamp. */
  private def w9RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").cast("long"))
      .rangeBetween(-3600L, 0L)
    Tables.load(s, dir, "events")
      .withColumn("rolling_1h", round(sum(col("value")).over(w), 2))
      .select(col("event_id"), col("user_id"), col("rolling_1h"))
      .orderBy(col("event_id")).limit(2000)
  }

  /** EXISTS correlated subquery — Catalyst decorrelates to a left-semi
    * join (SURVEY.md §4: subquery decorrelation is built-in); judged
    * with the IDENTICAL SQL in both engines. */
  private def qExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "customer").createOrReplaceTempView("customer_sq")
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders_sq")
    s.sql(
      """SELECT c_custkey, c_name FROM customer_sq
        |WHERE EXISTS (SELECT 1 FROM orders_sq
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Correlated scalar subquery (per-nation average balance threshold)
    * — decorrelates into an aggregate + join. */
  private def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "customer").createOrReplaceTempView("customer_sq2")
    s.sql(
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
        |FROM customer_sq2 c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) * 1.5 FROM customer_sq2 i
        |  WHERE i.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** J9 null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): planted
    * NULL keys on both sides must pair up (a plain equi-join would drop
    * them). Null-safe equality still hash-partitions — NULL is just a
    * key value — so the plan stays a hash join, not a nested loop. */
  private def j9NullsafeJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val l = orders.filter(col("o_orderkey") < 100)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 10 === 0, lit(null))
          .otherwise(col("o_orderkey") % 50).as("k"))
    val r = orders.filter(col("o_orderkey") >= 100 && col("o_orderkey") < 600)
      .select(col("o_orderkey").as("r_key"),
        when(col("o_orderkey") % 10 === 0, lit(null))
          .otherwise(col("o_orderkey") % 50).as("k"))
    l.join(r, l("k") <=> r("k"), "inner")
      .groupBy(l("k").as("k"))
      .agg(count(lit(1)).as("n_pairs"), min(col("r_key")).as("min_r"))
      .orderBy(col("k").asc_nulls_first)
  }

  /** Array-function family over deterministically synthesized arrays:
    * sequence, transform, sort, reverse, distinct, flatten, contains,
    * sum-aggregate, join-to-string — all codegen-free HOFs kept OFF the
    * scan's hot columns. Array outputs are string-joined so the judged
    * frame stays hashable. */
  private def fxArrays(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") < 500)
      .select(col("o_orderkey"),
        sequence(lit(1L), col("o_orderkey") % 5 + 1).as("arr"))
    base.select(col("o_orderkey"),
      array_join(col("arr"), ",").as("arr_s"),
      array_join(reverse(col("arr")), ",").as("rev_s"),
      array_join(array_sort(array_distinct(concat(col("arr"), col("arr")))),
        ",").as("dedup_s"),
      array_join(transform(col("arr"), x => x * 2), ",").as("dbl_s"),
      array_join(flatten(array(col("arr"), col("arr"))), ",").as("flat_s"),
      array_contains(col("arr"), 3L).as("has3"),
      aggregate(col("arr"), lit(0L), (acc, x) => acc + x).as("arr_sum"),
      size(col("arr")).cast("long").as("arr_len"))
      .orderBy(col("o_orderkey"))
  }

  /** W8 ranking-function family (rank / dense_rank / percent_rank /
    * ntile / cume_dist) in one windowed pass; the order key includes
    * the unique o_orderkey so every rank is tie-free deterministic. */
  private def w8RankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") < 400)
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        round(percent_rank().over(w), 4).as("prnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(cume_dist().over(w), 4).as("cdist"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  /** Sliding (overlapping) event-time windows, batch form: size 6h,
    * slide 3h — every event lands in exactly size/slide = 2 windows.
    * Catalyst expands the membership list per row before the hash
    * aggregate (same Expand-then-aggregate shape the streaming twin
    * uses); the oracle replays the 2-window membership explicitly. */
  private def qSlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "6 hours", "3 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy(col("w_start"), col("event_type"))

  /** Equi-width histogram: fixed [0, 500k) domain in 20 bins over
    * order totals — one hash aggregate on the bin id (a pure
    * projection), never a sort; the canonical distribution profile a
    * quality dashboard draws. */
  private def qHistogram(s: SparkSession, dir: String): DataFrame = {
    val width = 25000.0
    val o = Tables.load(s, dir, "orders")
    val total = o.count().toDouble
    o.withColumn("bin",
        least(floor(col("o_totalprice") / width), lit(19.0)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"), round(col("bin") * width, 1).as("bin_lo"),
        round((col("bin") + 1) * width, 1).as("bin_hi"), col("n"),
        round(col("n") / lit(total), 4).as("frac"))
      .orderBy(col("bin"))
  }

  /** Per-key EXPONENTIAL MOVING AVERAGE — an order-dependent recursive
    * aggregate no window frame can express — via higher-order
    * functions: collect each user's (ts, value) history, sort by time,
    * and FOLD `acc ← 0.2·x + 0.8·acc` with `aggregate()` — all
    * codegen'd expressions, zero UDFs, and the identical left fold
    * replays in DuckDB's `list_reduce`, so the doubles match bit for
    * bit. Scale: state is one array per user, bounded by a user's
    * history (the `text_pack` caveat) — the per-key sequential
    * dependence is irreducible, but keys distribute freely. */
  private def qEma(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("ts"), col("value"))))
        .as("hist"))
      .select(col("user_id"),
        expr("transform(hist, p -> p.value)").as("vs"))
      .select(col("user_id"), size(col("vs")).cast("long").as("n_events"),
        round(expr(
          """aggregate(slice(vs, 2, greatest(size(vs) - 1, 0)),
            |  element_at(vs, 1),
            |  (acc, x) -> 0.2d * x + 0.8d * acc)""".stripMargin), 6)
          .as("ema"))
      .orderBy(col("user_id"))
  }

  /** arg-max/arg-min aggregates (`max_by`/`min_by`): per event type,
    * WHICH user produced the extreme values — the "who/what, not how
    * much" rollup that otherwise costs a rank window over the whole
    * table. One hash aggregate; ties broken deterministically by
    * taking the extreme (user, value) PAIR, so equal values can't
    * flip the answer between engines. */
  private def qArgmax(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        max_by(col("user_id"), struct(col("value"), col("user_id")))
          .as("top_user"),
        round(max(col("value")), 2).as("top_value"),
        min_by(col("user_id"), struct(col("value"), col("user_id") * -1))
          .as("bottom_user"),
        round(min(col("value")), 2).as("bottom_value"))
      .orderBy(col("event_type"))

  /** Gaps-and-islands: each user's LONGEST STREAK of consecutive
    * active days — the canonical retention metric. The classic
    * `day − dense_rank` trick: inside one keyed window pass,
    * consecutive days share a constant (day − rank) island id, so the
    * answer is two keyed aggregates and one keyed window — no
    * self-join, no recursion, scales as |activity| after the first
    * distinct. */
  private def qStreaks(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.load(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = act
      .withColumn("island", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("streak_start"))
    islands.groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        max_by(col("streak_start"), struct(col("len"), col("streak_start")))
          .as("best_streak_start"),
        count(lit(1)).as("n_streaks"))
      .orderBy(col("user_id"))
  }

  /** Trailing-window DISTINCT count (7-day active users per day) — the
    * aggregate no window frame can host (`count(DISTINCT) OVER RANGE`
    * is unsupported in Spark AND most engines, and a naive per-day
    * self-join re-scans the table |days| times). The scalable shape:
    * collapse to (user, active-day) once, EXPAND each activity day to
    * the ≤7 window-end days it contributes to, then one hash
    * countDistinct per day — work is |activity| × window/granularity,
    * independent of raw event volume after the first aggregate. */
  private def qRollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.load(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    act.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .filter(col("day").between(lit("2024-01-01"), lit("2024-01-30")))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau_7d"))
      .orderBy(col("day"))
  }

  /** Pareto frontier (skyline): parts not dominated in (smaller size,
    * higher price). The naïve form is an O(n²) self-join ("no other
    * part is ≤ size AND ≥ price"); this plan is O(n log n) by the
    * classic sweep — collapse to per-size maxima (|sizes| rows), take
    * a running max over size order (a window over AGGREGATE-cardinality
    * rows, the `q_cumulative_distinct` pattern — never over the raw
    * table), keep strict improvements, join the frontier points back.
    * At 100 TB the raw table only ever passes one hash aggregate. */
  private def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
    val bySize = p.groupBy(col("p_size"))
      .agg(max(col("p_retailprice")).as("mp"))
    val withPrev = bySize.withColumn("prev",
      max(col("mp")).over(Window.orderBy(col("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)))
    val frontier = withPrev
      .filter(col("prev").isNull || col("mp") > col("prev"))
      .select(col("p_size").as("f_size"), col("mp"))
    p.join(frontier, col("p_size") === col("f_size") &&
        col("p_retailprice") === col("mp"))
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .orderBy(col("p_size"), col("p_partkey"))
  }

  /** Grouping sets — the explicit-sets member of the cube/rollup family
    * (SQL surface; Catalyst Expand). */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    s.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        |""".stripMargin)
  }

  /** Approximate percentile (mergeable KLL-style sketch vs the exact
    * rank): judged like q_approx_distinct — the approx value must land
    * inside the exact [p49, p51] rank bracket, a bound the sketch's
    * rank-error guarantee (1/accuracy = 1e-4 relative rank) keeps with
    * huge margin at any scale. The exact bracket comes from
    * `Scale.exactGlobalQuantiles` (sketch-bracket + exact refinement:
    * three scans, sort limited to ~0.04% of rows), not the `percentile`
    * aggregate whose single buffer must hold every value in memory and
    * not a global sort — the distinction that matters when the column
    * is 100 TB, and the reason the sketch side exists at all. */
  private def qApproxQuantile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    // global (ungrouped) exact side: the sketch-bracket refinement path
    // (three scans, no global sort) — the grouped spillable-window form
    // `exactPercentiles` would serialize on its single group here
    val exact = graft.plans.Scale.exactGlobalQuantiles(li, "l_extendedprice",
      Seq(("p49", 0.49), ("p50", 0.50), ("p51", 0.51)))
    val approx = li.agg(
      expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap"))
    exact.crossJoin(approx)
      .select(round(col("p50"), 4).as("exact_p50"),
        (col("ap") >= col("p49") && col("ap") <= col("p51"))
          .as("within_bound"))
  }

  /** J7 range-containment join (binned — graft.operators.RangeJoin):
    * lineitem quantities vs OVERLAPPING quantity bands. Binning turns
    * the BETWEEN predicate into an equi-join on the bin id; the naive
    * form is a nested-loop over |fact|×|bands|. */
  private def j7Range(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq((0L, 1.0, 15.0), (1L, 10.0, 30.0), (2L, 25.0, 50.0))
      .toDF("band_id", "lo", "hi")
    graft.operators.RangeJoin.binnedContainment(
        Tables.load(s, dir, "lineitem"), "l_quantity",
        bands, "lo", "hi", binWidth = 10.0)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"))
      .orderBy(col("band_id"))
  }

  /** Skew-salted two-phase aggregation (graft.plans.Scale.saltedSum):
    * hot keys spread over salt buckets in phase 1, merged per key in
    * phase 2 — judged against the plain GROUP BY, proving the rewrite
    * changes distribution only, never results. */
  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.plans.Scale.saltedSum(
        Tables.load(s, dir, "events"), "user_id", "value", saltBuckets = 16)
      .select(col("user_id"), round(col("value_sum"), 2).as("value_sum"),
        col("n"))
      .orderBy(col("user_id"))

  /** Approximate distinct count (HLL++), judged against the exact count
    * via its error bound: the sketch value itself is
    * implementation-specific, the |approx−exact|/exact ≤ 5·rsd bound is
    * not. */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    // both aggregates over the deduped key set: the HLL sketch is
    // insensitive to duplicates, so this equals approx over the raw
    // column while avoiding the Expand (dual-path) plan that a
    // count_distinct + approx combination otherwise compiles to
    val keys = Tables.load(s, dir, "lineitem").select(col("l_orderkey"))
      .distinct()
    keys.agg(count(lit(1)).as("exact_cnt"),
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx"))
      .select(col("exact_cnt"),
        (abs(col("approx") - col("exact_cnt")).cast("double") /
          col("exact_cnt") <= 0.1).as("within_bound"))
  }

  /** Heavy hitters (DataSketches frequent-items via `approx_top_k`):
    * the mergeable sketch answers "top k values" with one partial+final
    * aggregate and bounded memory at any scale. Judged in the exact
    * regime — maxItemsTracked (100) exceeds the column's distinct
    * count, where the sketch guarantees exact counts, so the result is
    * deterministic and equals the true top-3. */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .agg(expr("approx_top_k(event_type, 3, 100)").as("tk"))
      .select(explode(col("tk")).as("hh"))
      .select(col("hh.item").as("event_type"), col("hh.count").as("n"))
      .orderBy(col("n").desc, col("event_type"))

  /** Native mergeable SpaceSaving top-k (the custom-AGGREGATE Catalyst
    * extension point, next to the scalar-Expression and optimizer-Rule
    * ones): per event type, the top-10 users by event count through
    * `graftx.SpaceSavingTopK` — bounded state per partition, ONE
    * summary shipped per (group × partition) instead of one row per
    * distinct user, the shape that survives a 100 TB high-cardinality
    * column where the exact groupBy-count shuffle cannot. Capacity
    * 8192 exceeds the lake's per-type distinct-user count, pinning the
    * sketch's exact regime (every err = 0, merge order immaterial), so
    * the result is deterministic and oracle-checkable; at real scale
    * the same plan degrades gracefully to the certified
    * cnt−err ≤ true ≤ cnt guarantee the spec proves. */
  private def qSpacesavingTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftx.SpaceSavingTopK
    Tables.load(s, dir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(SpaceSavingTopK.topk(col("user_id").cast("string"), 8192, 10)
        .as("__top"))
      .select(col("event_type"),
        posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col("event_type"), (col("__i") + 1).as("rk"),
        col("__e.item").as("item"), col("__e.cnt").as("cnt"),
        col("__e.err").as("err"))
      .orderBy(col("event_type"), col("rk"))
  }

  /** SpaceSaving in its APPROXIMATE regime — capacity 4 below the
    * lang column's 5 distinct values, so partials genuinely evict/trim
    * and the reduce-side merge runs the lossy path (the regime the
    * exact-pinned `q_spacesaving_topk` never enters). The sketch's raw
    * items/counts are merge-order dependent there, so the judged output
    * is the INVARIANTS, not the counters: (a) `bracket_ok` — every
    * reported item satisfies cnt − err ≤ true ≤ cnt, which holds for
    * ANY merge tree (upper bound: the absent-credit invariant the lossy
    * flag protects; lower bound: cnt − err never grows past the true
    * count in add, credit, or additive merge — both provable by
    * induction over the buffer ops); (b) `top_covered` — the dominant
    * item (en, ~44% share vs a 25% single-stream survival threshold
    * n/capacity) is reported; (c) exact anchors the oracle recomputes:
    * n, k_rows, the true top item and its true count. */
  private def qSpacesavingApprox(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftx.SpaceSavingTopK
    val ev = Tables.load(s, dir, "documents")
      .filter(col("lang").isNotNull).select(col("lang"))
    val sketch = ev
      .agg(SpaceSavingTopK.topk(col("lang"), 4, 4).as("__top"))
      .select(explode(col("__top")).as("e"))
      .select(col("e.item").as("item"), col("e.cnt").as("cnt"),
        col("e.err").as("err"))
    val exact = ev.groupBy(col("lang").as("item"))
      .agg(count(lit(1)).as("true_cnt"))
    val top = exact.orderBy(desc("true_cnt"), col("item")).limit(1)
      .select(col("item").as("top_item"), col("true_cnt").as("top_true_cnt"))
    sketch.join(exact, Seq("item"))
      .crossJoin(broadcast(top))
      .agg(
        count(lit(1)).as("k_rows"),
        min(col("cnt") >= col("true_cnt") &&
          col("cnt") - col("err") <= col("true_cnt")).as("bracket_ok"),
        max(col("item") === col("top_item")).as("top_covered"),
        first(col("top_item")).as("top_item"),
        first(col("top_true_cnt")).as("top_true_cnt"))
      .crossJoin(broadcast(ev.agg(count(lit(1)).as("n"))))
      .select(col("n"), col("k_rows").cast("int").as("k_rows"),
        col("top_item"), col("top_true_cnt"),
        col("bracket_ok"), col("top_covered"))
  }

  /** J30 — Jaro–Winkler blocked linkage (the native `jaro_winkler`
    * expression in the ER refine loop): same first-token blocking as
    * `j19_fuzzy_blocked`, scored with the prefix-boosted Jaro measure
    * the record-linkage literature standardized on for names (Winkler
    * 1990) — and like j19 refined on the DISTINCT-NAME grain
    * (`operators/ErBlocking`): JW depends only on the two strings, so
    * class pairs are scored once (row-count independent — a few
    * hundred codegen'd kernel calls at any SF, vs ~25M row pairs at
    * sf0.1 and ~250G at 100× under the old row-pair refine), the
    * per-block qualifying-pair count expands arithmetically
    * (Σ cnt_a·cnt_b, C(cnt,2) for same-name pairs whose jw = 1), and
    * the judged top-3 row pairs per block materialize from each
    * class's 4 smallest keys — sufficient by
    * `ErBlocking.lowKeysSuffice` (every top-3 pair under
    * (jw desc, a_key, b_key) uses keys among the 4 smallest of its
    * class sides). Judged as the top-3 pairs per block at ≥ 0.93
    * (thresholds compare the SAME 6-dp rounded score in both engines,
    * so no boundary pair can flip) plus the block's qualifying-pair
    * count — bit-identical to the row-pair form the oracle replays.
    * `requireBoundedBlocks` enforces the distinct-name cap that keeps
    * the class self-join bounded. */
  /** The LAZY scored-class frame of [[j30JwLinkage]] — factored out so
    * LinkagePlanSpec can pin, by AST inspection, that the JaroWinkler
    * kernel evaluates inside WholeStageCodegen. */
  private[graft] def j30Scored(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftx.JaroWinkler
    import graft.operators.ErBlocking
    // checkpoint before the guard, per j19Scored
    val classes = ErBlocking.nameClasses(Tables.load(s, dir, "part"),
      split(col("p_name"), " ").getItem(0), col("p_name"),
      col("p_partkey"), keepSmallest = 4)
      .transform(graft.plans.Pin(_).df)
    ErBlocking.requireBoundedBlocks(classes, 10000L, "j30_jw_linkage")
    ErBlocking.classPairs(classes, strict = false)
      .withColumn("jw", round(JaroWinkler(col("a_name"), col("b_name")), 6))
      .filter(col("jw") >= 0.93)
  }

  private def j30JwLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ErBlocking
    val scored = j30Scored(s, dir)
      .transform(graft.plans.Pin(_).df) // class grain; feeds the count and the top-k
    val nPairs = scored.groupBy(col("block"))
      .agg(sum(col("n_cross")).as("n_pairs"))
    val w = Window.partitionBy(col("block"))
      .orderBy(desc("jw"), col("a_key"), col("b_key"))
    ErBlocking.candidateRowPairs(scored, "jw")
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= 3)
      .join(broadcast(nPairs), Seq("block"))
      .select(col("block"), col("rk"), col("a_key"), col("b_key"),
        col("jw"), col("n_pairs"))
      .orderBy(col("block"), col("rk"))
  }

  /** J34 — END-TO-END entity-resolution pipeline: the full chain a
    * production ER run composes from this round's pieces — (1) class
    * rollup with the min row key as each name-class's portable node
    * id, (2) the enforced block-cap guard, (3) Jaro–Winkler scoring on
    * CLASS pairs (row-count-independent), (4) CLUSTER formation over
    * the match graph via `dedup.Cluster.connectedComponents`
    * (large-star/small-star at scale, driver union-find below the
    * threshold — so transitive matches A~B~C collapse even when A and
    * C were never compared), and (5) survivorship: the canonical class
    * is the one holding the cluster's min key, and every record rolls
    * up under it. The match rule is j19's banded Levenshtein ≤ 3 —
    * on this lake it chains X-bolt ~ X-rod ~ X-ring into one cluster
    * per block even though bolt and ring (edit distance 4) never match
    * directly, which is precisely the transitive behavior step (4)
    * exists for. Judged per cluster: block, canonical key + name,
    * distinct member names, total member records. The oracle replays
    * the clustering with a recursive min-label CTE (the
    * `graph_reachability` pattern) over the same class-pair edges —
    * so the distributed CC result is checked against an independent
    * fixpoint computation, not against itself. */
  private def j34ErPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ErBlocking
    // a leaner rollup than ErBlocking.nameClasses on purpose: the
    // pipeline keys clusters by each class's MIN ROW KEY (its portable
    // node id) and needs no low_keys/top-k machinery — the classPairs
    // columns would be dead weight here, so the edge generation is
    // inline with the same refine staging j19 uses (length gap, then
    // the banded threshold kernel). Checkpointed once: the guard, both
    // self-join sides, and the component join all read it.
    val classes = Tables.load(s, dir, "part")
      .groupBy(col("p_name"))
      .agg(count(lit(1)).as("cnt"), min(col("p_partkey")).as("ckey"))
      .withColumn("block", split(col("p_name"), " ").getItem(0))
      .transform(graft.plans.Pin(_).df)
    ErBlocking.requireBoundedBlocks(
      classes.select(col("block"), col("p_name").as("name")),
      10000L, "j34_er_pipeline")
    val a = classes.select(col("block"), col("p_name").as("a_name"),
      col("ckey").as("a_ckey"))
    val b = classes.select(col("block"), col("p_name").as("b_name"),
      col("ckey").as("b_ckey"))
    val edges = a.join(b, Seq("block"))
      .filter(col("a_name") < col("b_name")
        && abs(length(col("a_name")) - length(col("b_name"))) <= 3
        && levenshtein(col("a_name"), col("b_name"), 3).between(0, 3))
      .select(col("a_ckey").as("src"), col("b_ckey").as("dst"))
    val comp = graft.dedup.Cluster.connectedComponents(edges, "src", "dst")
    val withComp = classes
      .join(comp.withColumnRenamed("node", "ckey"), Seq("ckey"), "left")
      .withColumn("cluster", coalesce(col("comp"), col("ckey")))
    val canon = withComp.filter(col("ckey") === col("cluster"))
      .select(col("cluster"), col("p_name").as("canonical_name"))
    withComp.groupBy(col("block"), col("cluster"))
      .agg(countDistinct(col("p_name")).as("n_names"),
        sum(col("cnt")).as("n_records"))
      .join(canon, Seq("cluster"))
      .select(col("block"), col("cluster").as("canon_key"),
        col("canonical_name"), col("n_names"), col("n_records"))
      .orderBy(col("block"), col("canon_key"))
  }

  /** Custom PHYSICAL operator top-k (the LogicalPlan + Strategy +
    * SparkPlan extension point, completing the portfolio beside the
    * scalar Expression, native aggregate, and optimizer-rule ones):
    * per event type, the 5 highest-value events through
    * `graftx.TopKPerGroup` — a bounded k-heap per group instead of the
    * window form's full per-partition sort, with a PARTIAL pass before
    * the exchange so each map partition ships ≤ k rows per group
    * (the partial-combine a window can't express). The final pass
    * streams over its (group, order)-sorted reduced input — the one
    * SortExec in the plan is the operator's SPILL path and runs on
    * ≤ k·partitions rows per group, never the raw scan. The plan
    * asserts in-query that both exec nodes are present and that the
    * only sort sits ABOVE the exchange (on reduced data);
    * TopKPerGroupSpec proves equality with the window form under
    * crafted ties, arbitrary partitioning, and a forced state-cap
    * flush regime. */
  private def w12NativeTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftx.TopKPerGroup
    val ev = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
    val top = TopKPerGroup(ev, Seq(col("event_type")),
      Seq(col("value").desc, col("event_id")), 5)
    val plan = top.queryExecution.executedPlan.toString
    require(plan.contains("TopKPerGroupPartial") &&
      plan.contains("TopKPerGroupFinal"),
      s"custom operator missing from plan:\n$plan")
    require(plan.indexOf("Sort ") >= 0 &&
      plan.indexOf("Sort ") == plan.lastIndexOf("Sort ") &&
      plan.indexOf("Sort ") < plan.indexOf("Exchange") &&
      plan.indexOf("Exchange") < plan.indexOf("TopKPerGroupPartial"),
      s"top-k must sort only the reduced stream above the exchange:\n$plan")
    top.orderBy(col("event_type"), desc("value"), col("event_id"))
  }

  /** W10 — sequential conversion funnel (signup → click → purchase):
    * each step's first qualifying timestamp must follow the previous
    * step's. Three unordered-frame window passes over ONE user_id
    * exchange: each step's conditional min can reference the previous
    * step's column, so no per-step join or re-shuffle exists (the
    * step-chain-of-aggregates form costs 4 exchanges + 3 joins; this
    * plans as Exchange → Window×3 → partial-reusing hash aggregate).
    * No per-user event sorting, no state blowup — scales with events
    * in, users out. Timestamps are exported as epoch millis (the
    * events fixture is ns-precision, which the two engines truncate
    * differently at full resolution). */
  /** Markov transition matrix over each user's event sequence: for
    * every adjacent (event, next-event) pair, the count and the
    * conditional probability P(next | current) — the behavioral-model
    * primitive funnels ([[w10Funnel]]) hand-pick two steps of. Scale
    * shape: ONE window exchange on user_id (per-user history bounds
    * the sort run, not the corpus) feeding an event-type²-bounded
    * aggregate; the per-source totals for the conditional ride a
    * second window over that tiny aggregate, not the data. Ties on ts
    * are broken by event_id so the sequence — and the oracle's — is
    * total-ordered. */
  private def qTransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val steps = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val wTot = Window.partitionBy(col("from_type"))
    steps.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n") / sum(col("n")).over(wTot), 6))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Top-k behavioral paths: the most common 3-step event sequences
    * across user timelines — the path-mining generalization of
    * [[qTransitionMatrix]] (which keeps only order-1 structure). Same
    * single window exchange on user_id; two `lead`s build the trigram
    * in one pass, the path aggregate is event-type³-bounded, and the
    * final cut is `TakeOrderedAndProject`. */
  private def qTopPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(concat_ws(" > ", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("path"))
      .limit(20)
  }

  /** Daily OHLC candles per event type — open/high/low/close, the
    * time-bucketed first/last/extremes rollup every metrics store
    * serves. First/last are tie-broken by (ts, event_id) so both
    * engines pick the same row; the two row_number windows share ONE
    * exchange (same partition keys, opposite sort), and the candle
    * aggregate is (day × type)-bounded. */
  private def qOhlc(s: SparkSession, dir: String): DataFrame = {
    val part = Seq(col("day"), col("event_type"))
    val wAsc = Window.partitionBy(part: _*)
      .orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy(part: _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("ra", row_number().over(wAsc))
      .withColumn("rd", row_number().over(wDesc))
      .groupBy(col("day"), col("event_type"))
      .agg(max(when(col("ra") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rd") === 1, col("value"))).as("close"),
        count(lit(1)).as("n"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Time-weighted average value per (event type, day) — each reading
    * weighted by how long it was current (until the next reading; the
    * day's last reading carries no weight). The metric that makes
    * irregular samples comparable — a plain AVG over-counts bursts.
    * Micros arithmetic via `unix_micros` ↔ DuckDB `epoch_us` (the
    * k_scd2_history bridge). One window exchange; the ratio aggregate
    * is (type × day)-bounded. */
  private def qTwap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        col("ts"), col("event_id"), col("value"))
      .withColumn("dur",
        (unix_micros(lead(col("ts"), 1).over(w))
          - unix_micros(col("ts"))).cast("double"))
      .filter(col("dur").isNotNull)
      .groupBy(col("event_type"), col("day"))
      .agg(round(sum(col("value") * col("dur")) / sum(col("dur")), 6)
        .as("twap"), count(lit(1)).as("n_intervals"))
      .orderBy(col("event_type"), col("day"))
  }

  /** ABC / Pareto classification over a distributed GLOBAL running
    * total (`plans/Scale.prefixSum`): parts ranked by revenue, A = the
    * head covering 70% of revenue, B = to 90%, C = the tail. The
    * cumulative share is the two-phase range-partitioned prefix sum —
    * NOT a single-partition global window — so the plan survives a
    * parts table of any size; the oracle is DuckDB's plain ordered
    * window, proving the two forms identical. */
  private def qAbcPareto(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
    val cum = graft.plans.Scale.prefixSum(rev,
      Seq(col("revenue").desc, col("l_partkey")), "revenue",
      sumCol = "cum_rev")
    val total = rev.agg(sum(col("revenue")).as("__tot"))
    cum.crossJoin(broadcast(total))
      .withColumn("abc_class",
        when(col("cum_rev") / col("__tot") <= 0.7, "A")
          .when(col("cum_rev") / col("__tot") <= 0.9, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        round(sum(col("revenue")) / max(col("__tot")), 6)
          .as("revenue_share"))
      .orderBy(col("abc_class"))
  }

  /** CUSUM change-point detection per event-type series: cumulative
    * sum of (daily mean − series mean), the day with the largest
    * |CUSUM| excursion is the most likely level shift. All windows
    * partition by series (days-bounded frames); the series mean rides
    * the same partition — no global exchange anywhere. */
  private def qCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg(col("value")).as("m"))
    val wType = Window.partitionBy(col("event_type"))
    val wCum = wType.orderBy(col("day"))
    val wPick = wType.orderBy(
      abs(col("cusum")).desc, col("day"))
    daily
      .withColumn("mu", avg(col("m")).over(wType))
      .withColumn("n_days", count(lit(1)).over(wType))
      .withColumn("cusum", sum(col("m") - col("mu")).over(wCum))
      .withColumn("__rk", row_number().over(wPick))
      .filter(col("__rk") === 1)
      .select(col("event_type"), col("day").as("cp_day"),
        round(abs(col("cusum")), 4).as("max_excursion"), col("n_days"))
      .orderBy(col("event_type"))
  }

  /** Autocorrelation function — ACF at lags 1..7 of the daily mean
    * value per series: the seasonality detector that motivates
    * `q_forecast`'s day−7 baseline (a weekly cycle shows as an ACF
    * spike at lag 7). Pearson correlation between the series and its
    * day−k shift, one lag per row; like the forecast backtest the
    * shifted value arrives by an exact (series, day−k) equi-join on
    * the DAILY rollup — never a row-offset lag (calendar gaps would
    * misalign it) and never raw events (the rollup is days×series
    * sized, so even the 7-way lag expansion is tiny next to the
    * scan). `corr` is a single-pass aggregate per (series, lag). */
  private def qAcf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg(col("value")).as("m"))
    val lags = s.range(1, 8).select(col("id").cast("int").as("lag"))
    val shifted = daily.select(col("event_type").as("e2"),
      col("day").as("day2"), col("m").as("m_lag"))
    daily.crossJoin(broadcast(lags))
      .join(shifted,
        col("event_type") === col("e2") &&
          col("day2") === date_sub(col("day"), col("lag")))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("m"), col("m_lag")), 6).as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Theil–Sen robust trend — the MEDIAN of all pairwise day-to-day
    * slopes per series (29.3% breakdown point vs OLS's zero: a bad
    * ingest day drags a least-squares slope arbitrarily, but not the
    * pair-slope median — the trend estimator a monitoring pipeline
    * should alert on). The pair expansion runs on the DAILY rollup
    * (days² per series, corpus-independent), never raw events; the
    * median is the exact interpolated percentile over that bounded
    * frame. */
  private def qTrendSlope(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg(col("value")).as("m"))
    val later = daily.select(col("event_type").as("e2"),
      col("day").as("day2"), col("m").as("m2"))
    daily.join(later,
        col("event_type") === col("e2") && col("day2") > col("day"))
      .select(col("event_type"),
        ((col("m2") - col("m")) / datediff(col("day2"), col("day")))
          .as("slope"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        round(percentile(col("slope"), lit(0.5)), 6).as("theil_sen"))
      .orderBy(col("event_type"))
  }

  /** J21 — TPC-H Q20 shape (excess-stock suppliers): suppliers who
    * shipped MORE THAN 60 units of some PROMO part during 1997 — a
    * SEMI join over an aggregated subquery over a semi-filtered part
    * set, the double-nested decorrelation Q20 exists to exercise.
    * Scale shape: the part filter broadcasts into lineitem at the
    * scan (non-PROMO rows never shuffle), the date filter pushes to
    * parquet, the (supp, part) aggregate is the only wide exchange,
    * and the final SEMI against supplier touches each supplier once —
    * no row from the aggregate ever duplicates a supplier. */
  private def j21ExcessShippers(s: SparkSession, dir: String): DataFrame = {
    val promoParts = Tables.load(s, dir, "part")
      .filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val shipped = Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 60)
      .select(col("l_suppkey")).distinct()
    Tables.load(s, dir, "supplier")
      .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  /** J22 — TPC-H Q9 shape (product-type profit): profit by SUPPLIER
    * nation and order year for one part family, the widest judged join
    * (lineitem ⋈ part ⋈ supplier ⋈ nation ⋈ orders). The testdata has
    * no partsupp table, so unit cost is proxied as 10% of the part's
    * retail price — the join/agg shape Q9 exists to exercise is
    * unchanged. Profit accumulates in EXACT integer cents (the
    * `q_gini`/`j18` idiom: round each term to cents first, sum longs)
    * so Spark/DuckDB float summation order can't flip the hash.
    * Scale shape: the name-filtered part set broadcasts (non-widget
    * rows never shuffle), nation broadcasts, lineitem shuffles once on
    * l_orderkey for the orders join, and the (nation × year) aggregate
    * is a few dozen rows. */
  private def j22ProfitByNation(s: SparkSession, dir: String): DataFrame = {
    val widget = Tables.load(s, dir, "part")
      .filter(col("p_name").contains("widget"))
      .select(col("p_partkey"), col("p_retailprice"))
    val li = Tables.load(s, dir, "lineitem")
      .join(broadcast(widget), col("l_partkey") === col("p_partkey"))
      .join(Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.load(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
    li.withColumn("profit_cents",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long") -
        round(col("p_retailprice") * 10).cast("long") *
          col("l_quantity").cast("long"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("profit_cents")) / 100.0, 2).as("profit"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"), desc("o_year"))
  }

  /** J23 — TPC-H Q13 shape (customer order-count distribution): LEFT
    * join with the filter INSIDE the join condition (customers whose
    * every order is urgent/high still count, with c_count = 0 — a
    * WHERE would silently drop them), then a two-level aggregate:
    * per-customer count, then histogram of customers per count.
    * Scale shape: orders shuffles once on o_custkey; the second
    * aggregate runs on |customers| rows; the histogram is ≤ max
    * order-count rows. */
  private def j23OrderCountDist(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
      .filter(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** J24 — TPC-H Q19 shape (disjunctive discounted revenue): three
    * OR'd (brand, size-range, quantity-range) blocks across the
    * lineitem ⋈ part boundary. The per-side conjuncts Catalyst can
    * derive from the disjunction (brand ∈ {…}, size ≤ 35, quantity ≤
    * 30) push to the scans; the residual OR evaluates post-join.
    * Revenue accumulates in exact integer cents — a single-row result
    * has no ordering to hide a last-ulp sum difference behind. */
  private def j24DisjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
      .filter(col("p_brand").isin("Brand#12", "Brand#23", "Brand#24") &&
        col("p_size").between(1, 35))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val blocks =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#24" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    Tables.load(s, dir, "lineitem")
      .filter(col("l_quantity").between(1, 30))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(blocks)
      .agg(count(lit(1)).as("n_items"),
        round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("long")) / 100.0, 2).as("revenue"))
  }

  /** J25 — TPC-H Q22 shape (idle rich customers): market segments
    * instead of phone country codes (no c_phone in the lake), "idle" =
    * no order in the final data year (every customer here has SOME
    * order). The threshold compare is EXACT: instead of
    * `c_acctbal > avg(...)` (whose last ulp depends on summation
    * order), both sides multiply through — cents(balance) · n >
    * Σcents — so the boundary customer can't flip between engines.
    * Scale shape: the scalar aggregate broadcasts, recent orders
    * shrink to a distinct custkey set before the ANTI join, and the
    * output is one row per segment. */
  private def j25IdleRichCustomers(s: SparkSession, dir: String): DataFrame = {
    val segs = Seq("BUILDING", "AUTOMOBILE", "MACHINERY")
    val cust = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment").isin(segs: _*))
      .withColumn("bal_cents", round(col("c_acctbal") * 100).cast("long"))
    val thresh = cust.filter(col("c_acctbal") > 0)
      .agg(sum(col("bal_cents")).as("__tot"), count(lit(1)).as("__n"))
    val recent = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(thresh)) // 1-row scalar threshold
      .filter(col("bal_cents") * col("__n") > col("__tot"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("bal_cents")) / 100.0, 2).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Day-of-week seasonality index — per series, each weekday's mean
    * value relative to the series' overall mean (index 1.0 = flat;
    * the weekly-cycle profile `q_acf`'s lag-7 spike summarizes into
    * one number per day). Two rollup-sized aggregates + a broadcast
    * join; integer dow from both engines' ISO convention. */
  private def qDowSeasonality(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events").filter(col("value").isNotNull)
    val overall = ev.groupBy(col("event_type"))
      .agg(avg(col("value")).as("mu"))
    ev.groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("dmu"))
      .join(broadcast(overall), "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        round(col("dmu") / col("mu"), 6).as("seasonality_idx"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Gini coefficient of customer-revenue concentration per nation —
    * the inequality index behind `q_abc_pareto`'s banding: G =
    * 2·Σᵢ(i·xᵢ) / (n·Σx) − (n+1)/n over rank-sorted revenues. Every
    * intermediate is EXACT: revenue accumulates in integer cents, the
    * rank product sums as a long (≤ ~1e16, inside int64), and the
    * final ratio divides identical exact integers in both engines —
    * ordering ties can't flip (cents are exact, custkey breaks the
    * rest). One customer-grain aggregate, one nation-keyed window,
    * one nation-bounded reduce. */
  private def qGini(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100)).cast("long")
        .as("rev_cents"))
      .join(Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("rev_cents"), col("o_custkey"))
    rev
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev_cents")).as("t"),
        sum(col("i") * col("rev_cents")).as("s"))
      .select(col("c_nationkey"), col("n_customers"),
        round(col("t") / 100.0, 2).as("total_revenue"),
        round(lit(2.0) * col("s") / (col("n_customers") * col("t")) -
          (col("n_customers") + lit(1.0)) / col("n_customers"), 6)
          .as("gini"))
      .orderBy(col("c_nationkey"))
  }

  /** J26 — TPC-H Q14 shape (promotion revenue share): per ship-month,
    * what fraction of discounted revenue came from PROMO-type parts.
    * Both the promo numerator and the total denominator accumulate in
    * exact integer cents inside ONE aggregate pass (a conditional sum,
    * not a second scan or a self-join), so the share divides two exact
    * integers and no summation-order ulp can flip the compare. Scale
    * shape: the date filter pushes to the lineitem scan, part is a
    * broadcast dim, output is ≤ 12 rows per year filtered.
    * Ref: the reference joins its transactions fact to a products dim
    * for exactly this category-share rollup (reference
    * airflow/dags/multi_source_ingestion_dag.py:59). */
  private def j26PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_type"))
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01") &&
        col("l_shipdate") < lit("1999-01-01"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .withColumn("rev_cents",
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(
        round(sum(when(col("p_type") === "PROMO", col("rev_cents"))
          .otherwise(lit(0L))) * 100.0 / sum(col("rev_cents")), 6)
          .as("promo_share_pct"),
        round(sum(col("rev_cents")) / 100.0, 2).as("total_revenue"))
      .orderBy(col("ship_month"))
  }

  /** J27 — TPC-H Q15 shape (top revenue supplier): quarterly revenue
    * per supplier, then the supplier(s) achieving the maximum. The
    * textbook form is a view + scalar subquery `rev = (SELECT max…)`;
    * here the scalar max rides a 1-row broadcast and the equality
    * compares exact integer cents — ties (or their absence) resolve
    * identically in any engine, where a float max comparison could
    * admit or drop a boundary supplier per summation order. Scale
    * shape: one fact exchange on l_suppkey bounded by the pushed date
    * filter, a |suppliers|-row rollup, a 1-row broadcast back onto it,
    * and a broadcast dim join for the name. */
  private def j27TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1997-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * 100).cast("long")).as("rev_cents"))
    val mx = rev.agg(max(col("rev_cents")).as("__mx"))
    rev.crossJoin(broadcast(mx)) // 1-row scalar: the max stays a plan
      .filter(col("rev_cents") === col("__mx"))
      .join(broadcast(Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev_cents") / 100.0, 2).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** J28 — TPC-H Q17 shape (small-quantity-order revenue): average
    * yearly revenue lost if small orders (below 20% of a part's mean
    * order quantity) stopped shipping. The correlated scalar subquery
    * `l_quantity < 0.2 * (SELECT avg … WHERE p_partkey = …)`
    * decorrelates into a per-part aggregate joined back to the fact —
    * and the 0.2·avg threshold compares EXACTLY by cross-multiplying
    * integers (5·qty·n < Σqty; quantities are integral), so a part
    * whose boundary line sits on the threshold can't flip between
    * engines the way a float `0.2 * avg` last-ulp could. Scale shape:
    * the brand filter broadcasts into the fact scan, the per-part
    * aggregate and the join-back hash on the SAME l_partkey key (the
    * filtered fact's exchange subtree repeats and is reuse-eligible —
    * no second key ever appears), and the result is a single row of
    * exact cents. */
  private def j28SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val brand = Tables.load(s, dir, "part")
      .filter(col("p_brand") === "Brand#23" && col("p_type") === "SMALL")
      .select(col("p_partkey"))
    val li = Tables.load(s, dir, "lineitem")
      .join(broadcast(brand), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val perPart = li.groupBy(col("l_partkey").as("__pk"))
      .agg(sum(col("l_quantity").cast("long")).as("__sum_qty"),
        count(lit(1)).as("__n"))
    li.join(perPart, col("l_partkey") === col("__pk"))
      .filter(col("l_quantity").cast("long") * 5 * col("__n") <
        col("__sum_qty")) // qty < 0.2·avg, exact in integers
      .agg(count(lit(1)).as("n_small_lines"),
        round(sum(round(col("l_extendedprice") * 100).cast("long"))
          / 100.0 / 7.0, 2).as("avg_yearly"))
  }

  /** J29 — TPC-H Q4 shape (order priority checking): orders in a
    * quarter with at least one SLOW line — shipped more than 90 days
    * after the order date (the lake has no commit/receipt dates, so
    * ship lag is the lateness predicate) — counted per priority. The
    * EXISTS is a LEFT SEMI join whose condition spans both sides
    * (l_shipdate > o_orderdate + 90): each order counts ONCE no
    * matter how many lines are late, which a plain inner join + count
    * would get wrong. Scale shape: the quarter filter pushes to the
    * orders scan, the semi join shuffles on the order key and keeps
    * only the probe's columns, and the output is priority-bounded
    * (5 rows). */
  private def j29LateOrderPriority(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > date_add(col("o_orderdate"), 90), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** RFM segmentation — recency / frequency / monetary quintiles per
    * customer, the standard lifecycle-marketing rollup: one customer
    * aggregate (3 metrics in one pass), then three GLOBAL quintile
    * assignments over (metric, custkey) — a total order, so ties split
    * identically in any engine. A bare `ntile(5)` window would sort
    * every customer on ONE task (the last single-partition global sort
    * this engine had); `Scale.globalNtile` computes the identical
    * SQL-standard bucket split with a range-partitioned rank + a
    * broadcast offset join, so each metric's quintile pass stays fully
    * parallel. The customer rollup is materialized once — it feeds all
    * three quintile scans plus the final rollup, and at 100 TB it is
    * |customers| rows, three orders of magnitude under the fact table
    * (the point of aggregating first). */
  private def qRfm(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val mx = orders.agg(max(col("o_orderdate")).as("__mx"))
    val base = orders
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("__last"),
        count(lit(1)).as("frequency"),
        round(sum(col("o_totalprice")), 2).as("monetary"))
      .crossJoin(broadcast(mx)) // 1-row scalar: anchor date stays a plan
      .withColumn("recency_days", datediff(col("__mx"), col("__last")))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"))
      // customer grain, scanned by all three quintile passes: eager
      // localCheckpoint materializes once and is ContextCleaner-freed
      // when unreferenced — a persist() would outlive the query in the
      // CacheManager (nobody is left to unpersist a returned plan)
      .transform(graft.plans.Pin(_).df)
    // lower recency is BETTER: rank ascending so quintile 1 = freshest
    val rMap = graft.plans.Scale.globalNtile(
      base.select(col("o_custkey"), col("recency_days")),
      Seq(col("recency_days"), col("o_custkey")), 5, "r")
      .select(col("o_custkey"), col("r"))
    val fMap = graft.plans.Scale.globalNtile(
      base.select(col("o_custkey"), col("frequency")),
      Seq(desc("frequency"), col("o_custkey")), 5, "f")
      .select(col("o_custkey"), col("f"))
    val mMap = graft.plans.Scale.globalNtile(
      base.select(col("o_custkey"), col("monetary")),
      Seq(desc("monetary"), col("o_custkey")), 5, "m")
      .select(col("o_custkey"), col("m"), col("monetary"))
    rMap.join(fMap, "o_custkey").join(mMap, "o_custkey")
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("monetary")), 2).as("segment_value"))
      .orderBy(col("r"), col("f"), col("m"))
  }

  /** Cohort LTV curves — cumulative revenue per cohort customer by
    * account age: cohort = month of first order, age = months since,
    * LTV(cohort, age) = running revenue / cohort size. The money twin
    * of `q_retention_cohorts` (that one counts activity, this one
    * accumulates value — the curve a growth model is fit to). Two
    * customer-grain aggregates + one (cohort × age)-bounded running
    * window; no raw order ever enters a window frame. */
  private def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val cohorts = o.groupBy(col("o_custkey"))
      .agg(date_trunc("month", min(col("o_orderdate"))).as("cohort"))
    val sizes = cohorts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_customers"))
    // accumulate in exact integer CENTS: per-row cents are exact
    // integer-valued doubles, so every sum is association-order-free
    // and both engines hand the SAME double to the final division —
    // a raw double cumsum drifts in the last ulp and flips half-cent
    // roundings between engines
    val aged = o.join(cohorts, "o_custkey")
      .groupBy(col("cohort"),
        months_between(date_trunc("month", col("o_orderdate")),
          col("cohort")).cast("int").as("age"))
      .agg(sum(round(col("o_totalprice") * 100)).as("rev_cents"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // LTV at 4 decimals by pure INTEGER arithmetic — truncating long
    // division, then one exact scaling. A rounded float quotient can
    // land exactly on a half-cent (cohort sizes divide evenly), where
    // the engines' round() implementations disagree in the last ulp;
    // integer division has no boundary to disagree on.
    aged
      .withColumn("cum_cents", sum(col("rev_cents")).over(w).cast("long"))
      .join(sizes, "cohort")
      .select(date_format(col("cohort"), "yyyy-MM").as("cohort"),
        col("age"), col("n_customers"),
        (expr("(cum_cents * 100) div n_customers") / lit(10000.0))
          .as("ltv"))
      .orderBy(col("cohort"), col("age"))
  }

  /** Skew diagnostics, JUDGED (was spec-only): the top-10 heaviest
    * join/agg keys and their row share — the report that decides
    * whether a key needs salting (`j8`/`q_salted_agg`) before the
    * shuffle that would otherwise strand its partition. One keyed
    * aggregate + a broadcast scalar total. */
  private def qSkewReport(s: SparkSession, dir: String): DataFrame =
    graft.plans.Scale.skewReport(
        Tables.load(s, dir, "lineitem"), "l_suppkey", topK = 10)
      .orderBy(desc("n"), col("l_suppkey"))

  /** Seasonal-naive forecast backtest: predict each day's mean as the
    * value seven days earlier, score MAPE / sMAPE / bias per series —
    * the baseline every forecasting pipeline must beat, and the
    * backtest harness that proves it. The week-ago value arrives by an
    * exact (series, day−7) equi-join — NOT a 7-row lag, which silently
    * misaligns across calendar gaps; the join shuffles (type, day)
    * rollups, never raw events, and all scoring aggregates are
    * series-bounded. Zero-mean days are excluded under the same
    * literal guard in both engines (no division-by-zero semantics
    * dependence). */
  private def qForecast(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(avg(col("value")).as("m"))
    val lagged = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("m").as("f"))
    daily.join(lagged, Seq("event_type", "day"))
      .filter(abs(col("m")) > 1e-12 && abs(col("f")) > 1e-12)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        round(avg(abs(col("m") - col("f")) / abs(col("m"))), 6)
          .as("mape"),
        round(avg(lit(2) * abs(col("m") - col("f"))
          / (abs(col("m")) + abs(col("f")))), 6).as("smape"),
        round(avg(col("f") - col("m")), 4).as("bias"))
      .orderBy(col("event_type"))
  }

  private def w10Funnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
      .filter(col("t1").isNotNull)
      .groupBy(col("user_id"), col("t1"), col("t2"), col("t3")).agg(
        count(lit(1)).as("__dummy"))
      .select(col("user_id"),
        unix_millis(col("t1")).as("t1_ms"),
        unix_millis(col("t2")).as("t2_ms"),
        unix_millis(col("t3")).as("t3_ms"),
        (lit(1) + when(col("t2").isNotNull, 1).otherwise(0) +
          when(col("t3").isNotNull, 1).otherwise(0)).as("steps_reached"))
      .orderBy(col("user_id"))
  }

  /** J10 — point-in-time (temporal) lookup: each shipped lineitem
    * retrieves the customer-status version that was valid when it
    * shipped, by joining the fact timestamp into the SCD2 validity
    * ranges (equi on the key + half-open BETWEEN, the standard PIT
    * join shape — Spark plans the equi part as the join key and the
    * range as a post-join filter). Because the ranges tile each key's
    * timeline (Scd2Spec) and l_shipdate ≥ the order's own change
    * timestamp, every fact matches exactly one version. */
  private def j10PitLookup(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val hist = graft.operators.Scd2.fromChangeLog(orders,
        key = "o_custkey", ts = "o_orderdate", tie = "o_orderkey",
        attrs = Seq("o_orderstatus"))
      .select(col("o_custkey").as("h_custkey"),
        col("version").cast("long").as("version"),
        col("o_orderstatus").as("status"),
        col("valid_from"), col("valid_to"))
    Tables.load(s, dir, "lineitem")
      .filter(col("l_orderkey") < 2000)
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("l_shipdate"))
      .join(hist, col("o_custkey") === col("h_custkey") &&
        col("l_shipdate") >= col("valid_from") &&
        col("l_shipdate") < col("valid_to"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("l_shipdate"), col("version"), col("status"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // shipdate + version make the order total
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        col("version"))
  }

  /** Mergeable distinct-count sketches (Apache DataSketches HLL): build
    * one sketch per month at "ingest", then answer the cross-month
    * distinct question by UNIONING the sketches — never rescanning the
    * raw data. This is the 100 TB rollup pattern q_approx_distinct's
    * one-shot HLL++ can't do: partial sketches persist as bytes in a
    * summary table and re-aggregate to any grouping. Judged like the
    * other sketches — the merged estimate must land within a bound the
    * sketch guarantees (lgK=14 ⇒ ~0.8% rse; bound 5%), plus the exact
    * sketch count. */
  private def qHllUnion(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val monthly = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk"))
    val merged = monthly.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
      count(lit(1)).as("n_sketches"))
    orders.agg(count_distinct(col("o_custkey")).as("exact_cnt"))
      .crossJoin(merged)
      .select(col("exact_cnt"), col("n_sketches"),
        (abs(col("est") - col("exact_cnt")).cast("double") /
          col("exact_cnt") <= 0.05).as("within_bound"))
  }

  /** Exact interpolated percentiles per group via the distributed
    * sort-based plan (`Scale.exactPercentiles` — spillable window sort
    * + algebraic reduce, vs the builtin `percentile`'s per-group
    * in-memory value buffer). Shares the linear-interpolation
    * definition with DuckDB's `quantile_cont`, so the values
    * hash-compare after rounding. */
  /** Weighted grouped quantiles (`Scale.weightedQuantiles`): unit
    * price weighted by quantity — the "typical unit" vs "typical row"
    * distinction the unweighted percentile family can't express. */
  private def qWeightedQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.plans.Scale.weightedQuantiles(
        Tables.load(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        "l_quantity",
        Seq("wq25" -> 0.25, "wq50" -> 0.5, "wq75" -> 0.75))
      .select(col("l_returnflag"),
        round(col("wq25"), 2).as("wq25"), round(col("wq50"), 2).as("wq50"),
        round(col("wq75"), 2).as("wq75"))
      .orderBy(col("l_returnflag"))

  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    graft.plans.Scale.exactPercentiles(
        Tables.load(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .select(col("l_returnflag"),
        round(col("p25"), 4).as("p25"), round(col("p50"), 4).as("p50"),
        round(col("p90"), 4).as("p90"), round(col("p99"), 4).as("p99"))
      .orderBy(col("l_returnflag"))

  /** The same grouped percentiles through the sketch-bracket refinement
    * path (`Scale.exactPercentilesBracket`) — per-group work no longer
    * scales with group size, so three huge return-flag groups don't
    * serialize onto three tasks. Judged against the SAME oracle as
    * `q_percentiles`, proving the two plans interchangeable. */
  private def qPercentiles2(s: SparkSession, dir: String): DataFrame =
    graft.plans.Scale.exactPercentilesBracket(
        Tables.load(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .select(col("l_returnflag"),
        round(col("p25"), 4).as("p25"), round(col("p50"), 4).as("p50"),
        round(col("p90"), 4).as("p90"), round(col("p99"), 4).as("p99"))
      .orderBy(col("l_returnflag"))

  /** The AUTO-DISPATCHED grouped percentiles (`Scale
    * .groupedPercentiles` measures group count / avg size and picks
    * window-rank vs bracket-refinement itself) judged against the same
    * oracle as both manual forms — so the dispatcher, not just its two
    * targets, carries a green CORRECTNESS row. At sf0.01 the stats
    * (3 groups, ~20k rows each) choose the window path; the decision
    * only changes the plan, never the values. */
  private def qPercentilesAuto(s: SparkSession, dir: String): DataFrame =
    graft.plans.Scale.groupedPercentiles(
        Tables.load(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .select(col("l_returnflag"),
        round(col("p25"), 4).as("p25"), round(col("p50"), 4).as("p50"),
        round(col("p90"), 4).as("p90"), round(col("p99"), 4).as("p99"))
      .orderBy(col("l_returnflag"))

  /** Statistical aggregate family (engine extra past A1–A10):
    * correlation, covariance, population variance, the SQL-standard
    * linear-regression aggregates, and the boolean/conditional reducers
    * between price and quantity per return flag. Every one of these is
    * an algebraic moment sketch (sum, sum², co-moment) that merges
    * associatively, so the plan stays a single partial+final hash
    * aggregate — one exchange regardless of data size. */
  private def qStatsFamily(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6)
          .as("price_qty_corr"),
        round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4)
          .as("covar_s"),
        round(covar_pop(col("l_extendedprice"), col("l_quantity")), 4)
          .as("covar_p"),
        round(var_pop(col("l_discount")), 6).as("var_disc"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
          .as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
          .as("r2"),
        count_if(col("l_discount") > 0.05).as("n_discounted"),
        bool_and(col("l_quantity") > 0).as("all_positive"),
        bool_or(col("l_discount") > 0.09).as("any_deep_discount"))
      .orderBy(col("l_returnflag"))

  def queries: Map[String, Q] = Map(
    "q_stats_family" -> (qStatsFamily _),
    "q_hll_union" -> (qHllUnion _),
    "j10_pit_lookup" -> (j10PitLookup _),
    "w10_funnel" -> (w10Funnel _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_percentiles" -> (qPercentiles _),
    "q_percentiles_auto" -> (qPercentilesAuto _),
    "q_percentiles2" -> (qPercentiles2 _),
    "q1_agg" -> (q1Agg _),
    "j6_asof" -> (j6Asof _),
    "j6_asof_fwd" -> (j6AsofFwd _),
    "j6_asof_nearest" -> (j6AsofNearest _),
    "j7_range" -> (j7Range _),
    "j8_salted_join" -> (j8SaltedJoin _),
    "j9_nullsafe_join" -> (j9NullsafeJoin _),
    "fx_arrays" -> (fxArrays _),
    "w7_topk_grouped" -> (w7TopkGrouped _),
    "w7_topk_grouped2" -> (w7TopkGrouped2 _),
    "w8_rank_family" -> (w8RankFamily _),
    "w9_range_frame" -> (w9RangeFrame _),
    "w11_value_family" -> (w11ValueFamily _),
    "q_json_props" -> (qJsonProps _),
    "fx_datetime_family" -> (fxDatetimeFamily _),
    "q_gap_fill" -> (qGapFill _),
    "q_interpolate" -> (qInterpolate _),
    "q_cumulative_distinct" -> (qCumulativeDistinct _),
    "q_retention_cohorts" -> (qRetentionCohorts _),
    "q_interval_union" -> (qIntervalUnion _),
    "q_median_mode" -> (qMedianMode _),
    "q_string_agg" -> (qStringAgg _),
    "q_exists_subquery" -> (qExistsSubquery _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_sliding_window" -> (qSlidingWindow _),
    "q_histogram" -> (qHistogram _),
    "q_ema" -> (qEma _),
    "q_skyline" -> (qSkyline _),
    "q_rolling_distinct" -> (qRollingDistinct _),
    "q_argmax" -> (qArgmax _),
    "q_streaks" -> (qStreaks _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_approx_quantile" -> (qApproxQuantile _),
    "q_salted_agg" -> (qSaltedAgg _),
    "q_cube" -> (qCube _),
    "w6_sessions" -> (w6Sessions _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "j1_merge_left_join" -> (j1MergeLeftJoin _),
    "j2_semi" -> (j2Semi _),
    "j2_anti" -> (j2Anti _),
    "j3_star_join" -> (j3StarJoin _),
    "j4_full_outer" -> (j4FullOuter _),
    "j5_theta" -> (j5Theta _),
    "j11_shipping_priority" -> (j11ShippingPriority _),
    "j12_local_supplier_volume" -> (j12LocalSupplierVolume _),
    "j13_market_share" -> (j13MarketShare _),
    "j14_returned_items" -> (j14ReturnedItems _),
    "j15_big_orders" -> (j15BigOrders _),
    "j16_waiting_supplier" -> (j16WaitingSupplier _),
    "j17_bloom_reduced" -> (j17BloomReduced _),
    "j18_min_cost_supplier" -> (j18MinCostSupplier _),
    "j19_fuzzy_blocked" -> (j19FuzzyBlocked _),
    "j20_volume_shipping" -> (j20VolumeShipping _),
    "q_market_basket" -> (qMarketBasket _),
    "graph_pagerank" -> (graphPagerank _),
    "graph_hits" -> (graphHits _),
    "graph_ppr" -> (graphPpr _),
    "graph_triangles" -> (graphTriangles _),
    "graph_reachability" -> (graphReachability _),
    "graph_kcore" -> (graphKcore _),
    "graph_cheapest" -> (graphCheapest _),
    "graph_label_prop" -> (graphLabelProp _),
    "graph_scc" -> (graphScc _),
    "graph_temporal_reach" -> (graphTemporalReach _),
    "q_transition_matrix" -> (qTransitionMatrix _),
    "q_top_paths" -> (qTopPaths _),
    "q_ohlc" -> (qOhlc _),
    "q_twap" -> (qTwap _),
    "q_abc_pareto" -> (qAbcPareto _),
    "q_cusum" -> (qCusum _),
    "q_acf" -> (qAcf _),
    "q_trend_slope" -> (qTrendSlope _),
    "q_skew_report" -> (qSkewReport _),
    "q_rfm" -> (qRfm _),
    "q_gini" -> (qGini _),
    "j21_excess_shippers" -> (j21ExcessShippers _),
    "j22_profit_by_nation" -> (j22ProfitByNation _),
    "j23_order_count_dist" -> (j23OrderCountDist _),
    "j24_disjunctive_revenue" -> (j24DisjunctiveRevenue _),
    "j25_idle_rich_customers" -> (j25IdleRichCustomers _),
    "j26_promo_revenue" -> (j26PromoRevenue _),
    "j27_top_supplier" -> (j27TopSupplier _),
    "j28_small_qty_revenue" -> (j28SmallQtyRevenue _),
    "j29_late_order_priority" -> (j29LateOrderPriority _),
    "q_spacesaving_topk" -> (qSpacesavingTopk _),
    "q_spacesaving_approx" -> (qSpacesavingApprox _),
    "w12_native_topk" -> (w12NativeTopk _),
    "j30_jw_linkage" -> (j30JwLinkage _),
    "j31_not_in_null" -> (j31NotInNull _),
    "j32_damerau_blocked" -> (j32DamerauBlocked _),
    "j33_segment_er" -> (j33SegmentEr _),
    "j34_er_pipeline" -> (j34ErPipeline _),
    "q_dow_seasonality" -> (qDowSeasonality _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_weighted_quantiles" -> (qWeightedQuantiles _),
    "q_forecast" -> (qForecast _),
    "w1_topk" -> (w1TopK _),
    "w2_latest_per_customer" -> (w2LatestPerCustomer _),
    "w3_lag" -> (w3Lag _),
    "w4_running" -> (w4Running _),
    "w5_offset" -> (w5Offset _),
    "set_union" -> (setUnion _),
    "set_intersect" -> (setIntersect _),
    "set_except" -> (setExcept _),
    "set_intersect_all" -> (setIntersectAll _),
    "set_except_all" -> (setExceptAll _),
    "a2_null_profile" -> (a2NullProfile _),
    "a3_dup_stats" -> (a3DupStats _),
    "a4_variance" -> (a4Variance _),
    "a8_pipeline" -> (a8Pipeline _),
    "a10_dup_groups" -> (a10DupGroups _),
    "q_rollup" -> (qRollup _),
    "q_pivot" -> (qPivot _)
  )

  def oracleSql: Map[String, String] = Map(
    "q_heavy_hitters" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY n DESC, event_type LIMIT 3""".stripMargin,
    "w10_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT s1.user_id,
        |  epoch_ms(t1) AS t1_ms, epoch_ms(t2) AS t2_ms,
        |  epoch_ms(t3) AS t3_ms,
        |  1 + (t2 IS NOT NULL)::int + (t3 IS NOT NULL)::int
        |    AS steps_reached
        |FROM s1
        |LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,
    "j10_pit_lookup" ->
      """WITH ordered AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
        |    lag(o_orderstatus) OVER w AS prev
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |hist AS (
        |  SELECT o_custkey AS h_custkey,
        |    row_number() OVER w AS version,
        |    o_orderstatus AS status,
        |    o_orderdate AS valid_from,
        |    coalesce(lead(o_orderdate) OVER w,
        |             TIMESTAMP '9999-12-31 00:00:00') AS valid_to
        |  FROM ordered WHERE prev IS DISTINCT FROM o_orderstatus
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |facts AS (
        |  SELECT l_orderkey, l_linenumber, o_custkey, l_shipdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_orderkey < 2000)
        |SELECT l_orderkey, l_linenumber, o_custkey, l_shipdate,
        |  version, status
        |FROM facts JOIN hist ON o_custkey = h_custkey
        |  AND l_shipdate >= valid_from AND l_shipdate < valid_to
        |ORDER BY l_orderkey, l_linenumber, l_shipdate, version""".stripMargin,
    "q_hll_union" ->
      """SELECT count(DISTINCT o_custkey) AS exact_cnt,
        |  count(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_sketches,
        |  true AS within_bound
        |FROM orders""".stripMargin,
    "q_stats_family" ->
      """SELECT l_returnflag,
        |  count(*) AS n,
        |  round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
        |  round(covar_samp(l_extendedprice, l_quantity), 4) AS covar_s,
        |  round(covar_pop(l_extendedprice, l_quantity), 4) AS covar_p,
        |  round(var_pop(l_discount), 6) AS var_disc,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_discount > 0.09) AS any_deep_discount
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_percentiles2" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_percentiles_auto" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "j6_asof" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'click'),
        |b AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT p.event_id, p.user_id, p.value,
        |  b.ts AS err_ts, b.value AS err_value
        |FROM p ASOF LEFT JOIN b
        |  ON p.user_id = b.user_id AND p.ts >= b.ts
        |ORDER BY p.event_id LIMIT 1000""".stripMargin,
    "j6_asof_fwd" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'click'),
        |b AS (SELECT * FROM events WHERE event_type = 'error')
        |SELECT p.event_id, p.user_id, p.value,
        |  b.ts AS err_ts, b.value AS err_value
        |FROM p ASOF LEFT JOIN b
        |  ON p.user_id = b.user_id AND p.ts <= b.ts
        |ORDER BY p.event_id LIMIT 1000""".stripMargin,
    "j6_asof_nearest" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'click'),
        |b AS (SELECT * FROM events WHERE event_type = 'error'),
        |bk AS (SELECT p.event_id, b.ts AS bts, b.value AS bval
        |  FROM p ASOF LEFT JOIN b
        |    ON p.user_id = b.user_id AND p.ts >= b.ts),
        |fw AS (SELECT p.event_id, b.ts AS fts, b.value AS fval
        |  FROM p ASOF LEFT JOIN b
        |    ON p.user_id = b.user_id AND p.ts <= b.ts)
        |SELECT p.event_id, p.user_id, p.value,
        |  CASE WHEN bts IS NOT NULL AND (fts IS NULL
        |      OR (p.ts - bts) <= (fts - p.ts)) THEN bts ELSE fts END
        |    AS err_ts,
        |  CASE WHEN bts IS NOT NULL AND (fts IS NULL
        |      OR (p.ts - bts) <= (fts - p.ts)) THEN bval ELSE fval END
        |    AS err_value
        |FROM p JOIN bk USING (event_id) JOIN fw USING (event_id)
        |ORDER BY p.event_id LIMIT 1000""".stripMargin,
    "j8_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(value), 2) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "w7_topk_grouped" ->
      """SELECT o_orderpriority, rk, o_orderkey, price FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    round(o_totalprice, 2) AS price,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,
    "w7_topk_grouped2" ->
      """SELECT o_orderpriority, rk, o_orderkey, price FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |    round(o_totalprice, 2) AS price,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,
    "q_retention_cohorts" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |cohorts AS (
        |  SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
        |  CAST(d - cohort_day AS BIGINT) AS day_offset,
        |  count(DISTINCT ev.user_id) AS active_users
        |FROM ev JOIN cohorts USING (user_id)
        |GROUP BY 1, 2
        |HAVING day_offset IN (0, 1, 7, 14, 21)
        |ORDER BY cohort, day_offset""".stripMargin,
    "q_cumulative_distinct" ->
      """WITH fd AS (
        |  SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS day
        |  FROM events GROUP BY user_id),
        |nd AS (SELECT day, count(*) AS new_users FROM fd GROUP BY day)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumulative_users
        |FROM nd ORDER BY day""".stripMargin,
    "q_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + CAST(round(value * 60000000) AS BIGINT) AS e
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, s, e,
        |    CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
        |      THEN 1 ELSE 0 END AS new_i
        |  FROM iv
        |  WINDOW w AS (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |isl AS (
        |  SELECT user_id, s, e, sum(new_i) OVER w2 AS island
        |  FROM flagged
        |  WINDOW w2 AS (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |merged AS (
        |  SELECT user_id, island, min(s) AS is_s, max(e) AS is_e
        |  FROM isl GROUP BY user_id, island)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(is_e - is_s) AS BIGINT) AS active_us
        |FROM merged GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |    count(*) AS n, round(avg(value), 4) AS avg_v
        |  FROM events WHERE user_id < 3 GROUP BY 1, 2),
        |spine AS (
        |  SELECT strftime(d.day, '%Y-%m-%d') AS day, t.event_type
        |  FROM generate_series(TIMESTAMP '2024-01-01',
        |    TIMESTAMP '2024-01-30', INTERVAL 1 DAY) AS d(day)
        |  CROSS JOIN (SELECT DISTINCT event_type FROM events
        |              WHERE user_id < 3) t)
        |SELECT s.day, s.event_type, coalesce(n, 0) AS n,
        |  last_value(avg_v IGNORE NULLS) OVER (PARTITION BY s.event_type
        |    ORDER BY s.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        |FROM spine s LEFT JOIN daily USING (day, event_type)
        |ORDER BY s.day, s.event_type""".stripMargin,
    "q_json_props" ->
      """SELECT event_type, count(*) AS n,
        |  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_min,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max,
        |  round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS k_avg
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "fx_datetime_family" ->
      """SELECT o_orderkey,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
        |    AS month_start,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
        |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        |  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week
        |FROM orders WHERE o_orderkey < 2000
        |ORDER BY o_orderkey""".stripMargin,
    "w11_value_family" ->
      """SELECT event_id, user_id,
        |  first_value(value) OVER w AS first_v,
        |  last_value(value) OVER w AS last_v,
        |  nth_value(value, 3) OVER w AS third_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id LIMIT 2000""".stripMargin,
    "q_median_mode" ->
      """SELECT round(median(value), 4) AS median_value,
        |  (SELECT event_type FROM events
        |   GROUP BY event_type ORDER BY count(*) DESC, event_type
        |   LIMIT 1) AS mode_type
        |FROM events""".stripMargin,
    "q_string_agg" ->
      """SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
        |FROM events GROUP BY user_id
        |ORDER BY user_id LIMIT 500""".stripMargin,
    "w9_range_frame" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id
        |    ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2)
        |    AS rolling_1h
        |FROM events ORDER BY event_id LIMIT 2000""".stripMargin,
    "q_exists_subquery" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q_scalar_subquery" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) * 1.5 FROM customer i
        |  WHERE i.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "j9_nullsafe_join" ->
      """WITH l AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN NULL
        |      ELSE o_orderkey % 50 END AS k
        |  FROM orders WHERE o_orderkey < 100),
        |r AS (SELECT o_orderkey AS r_key,
        |    CASE WHEN o_orderkey % 10 = 0 THEN NULL
        |      ELSE o_orderkey % 50 END AS k
        |  FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 600)
        |SELECT l.k, count(*) AS n_pairs, min(r_key) AS min_r
        |FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
        |GROUP BY l.k ORDER BY l.k NULLS FIRST""".stripMargin,
    "fx_arrays" ->
      """WITH b AS (SELECT o_orderkey,
        |    generate_series(1, o_orderkey % 5 + 1) AS arr
        |  FROM orders WHERE o_orderkey < 500)
        |SELECT o_orderkey,
        |  array_to_string(arr, ',') AS arr_s,
        |  array_to_string(list_reverse(arr), ',') AS rev_s,
        |  array_to_string(list_sort(list_distinct(list_concat(arr, arr))),
        |    ',') AS dedup_s,
        |  array_to_string(list_transform(arr, x -> x * 2), ',') AS dbl_s,
        |  array_to_string(flatten([arr, arr]), ',') AS flat_s,
        |  list_contains(arr, 3) AS has3,
        |  CAST(list_sum(arr) AS BIGINT) AS arr_sum,
        |  len(arr) AS arr_len
        |FROM b ORDER BY o_orderkey""".stripMargin,
    "w8_rank_family" ->
      """SELECT o_orderpriority, o_orderkey,
        |  round(o_totalprice, 2) AS price,
        |  rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk,
        |  round(percent_rank() OVER w, 4) AS prnk,
        |  ntile(4) OVER w AS quartile,
        |  round(cume_dist() OVER w, 4) AS cdist
        |FROM orders WHERE o_orderkey < 400
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice ASC, o_orderkey ASC)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q_sliding_window" ->
      """WITH sh AS (SELECT unnest([0, 1]) AS i),
        |w AS (SELECT
        |    time_bucket(INTERVAL 3 HOUR, ts) - i * INTERVAL 3 HOUR
        |      AS w_start,
        |    event_type, value
        |  FROM events CROSS JOIN sh)
        |SELECT w_start, event_type, count(*) AS n,
        |  round(sum(value), 2) AS total
        |FROM w GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,
    "q_histogram" ->
      """WITH b AS (
        |  SELECT CAST(least(floor(o_totalprice / 25000), 19) AS BIGINT)
        |    AS bin
        |  FROM orders),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM orders)
        |SELECT bin, round(bin * 25000, 1) AS bin_lo,
        |  round((bin + 1) * 25000, 1) AS bin_hi,
        |  count(*) AS n,
        |  round(count(*) / (SELECT total FROM t), 4) AS frac
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q_ema" ->
      """WITH l AS (
        |  SELECT user_id, list(value ORDER BY ts, value) AS vs
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
        |  round(list_reduce(vs, (acc, x) -> 0.2 * x + 0.8 * acc), 6)
        |    AS ema
        |FROM l ORDER BY user_id""".stripMargin,
    "q_skyline" ->
      """WITH m AS (
        |  SELECT p_size, max(p_retailprice) AS mp FROM part GROUP BY 1),
        |r AS (
        |  SELECT p_size, mp, max(mp) OVER (ORDER BY p_size
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
        |  FROM m),
        |f AS (SELECT p_size, mp FROM r
        |  WHERE prev IS NULL OR mp > prev)
        |SELECT p_partkey, p.p_size, p_retailprice
        |FROM part p JOIN f ON p.p_size = f.p_size
        |  AND p.p_retailprice = f.mp
        |ORDER BY p.p_size, p_partkey""".stripMargin,
    "q_rolling_distinct" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |exp AS (
        |  SELECT user_id, day + CAST(o AS INT) AS day2
        |  FROM act, LATERAL (SELECT unnest(generate_series(0, 6)) AS o) s)
        |SELECT day2 AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS wau_7d
        |FROM exp
        |WHERE day2 BETWEEN DATE '2024-01-01' AND DATE '2024-01-30'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_argmax" ->
      """WITH m AS (
        |  SELECT event_type, max(value) AS mx, min(value) AS mn
        |  FROM events GROUP BY 1),
        |t AS (SELECT event_type, user_id FROM events
        |  QUALIFY row_number() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, user_id DESC) = 1),
        |b AS (SELECT event_type, user_id FROM events
        |  QUALIFY row_number() OVER (PARTITION BY event_type
        |    ORDER BY value ASC, user_id DESC) = 1)
        |SELECT m.event_type, t.user_id AS top_user,
        |  round(mx, 2) AS top_value,
        |  b.user_id AS bottom_user, round(mn, 2) AS bottom_value
        |FROM m JOIN t USING (event_type) JOIN b USING (event_type)
        |ORDER BY m.event_type""".stripMargin,
    "q_streaks" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id, day, day - CAST(row_number() OVER
        |    (PARTITION BY user_id ORDER BY day) AS INT) AS island
        |  FROM act),
        |st AS (
        |  SELECT user_id, island, count(*) AS len,
        |    min(day) AS streak_start
        |  FROM isl GROUP BY 1, 2),
        |best AS (
        |  SELECT user_id, streak_start FROM st
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY len DESC, streak_start DESC) = 1),
        |agg AS (
        |  SELECT user_id, max(len) AS longest_streak,
        |    count(*) AS n_streaks
        |  FROM st GROUP BY 1)
        |SELECT agg.user_id, longest_streak,
        |  best.streak_start AS best_streak_start, n_streaks
        |FROM agg JOIN best USING (user_id)
        |ORDER BY agg.user_id""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_approx_quantile" ->
      """SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
        |  TRUE AS within_bound
        |FROM lineitem""".stripMargin,
    "j7_range" ->
      """WITH bands(band_id, lo, hi) AS (
        |  VALUES (0, 1.0, 15.0), (1, 10.0, 30.0), (2, 25.0, 50.0))
        |SELECT CAST(band_id AS BIGINT) AS band_id, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty,
        |  round(avg(l_extendedprice), 4) AS avg_price
        |FROM lineitem JOIN bands
        |  ON l_quantity BETWEEN lo AND hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "q_salted_agg" ->
      """SELECT user_id, round(sum(value), 2) AS value_sum,
        |  count(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_cube" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |  count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY CUBE (event_type, day)
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "w6_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch(ts) -
        |      epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts) AS session_start,
        |  round(sum(value), 2) AS session_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_approx_distinct" ->
      """SELECT count(DISTINCT l_orderkey) AS exact_cnt,
        |  true AS within_bound FROM lineitem""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "j1_merge_left_join" ->
      """SELECT c_custkey, c_name, e.n_events, e.total_value
        |FROM customer c LEFT JOIN (
        |  SELECT user_id, count(*) AS n_events,
        |         round(sum(value), 2) AS total_value
        |  FROM events GROUP BY user_id) e
        |ON c.c_custkey = e.user_id
        |ORDER BY c_custkey""".stripMargin,
    "j2_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey LIMIT 100""".stripMargin,
    "j2_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey LIMIT 100""".stripMargin,
    "j11_shipping_priority" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, order_date, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "j12_local_supplier_volume" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "j20_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7') OR
        |       (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "j13_market_share" ->
      """WITH flat AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    round(l_extendedprice * (1 - l_discount), 6) AS volume,
        |    sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'),
        |agged AS (
        |  SELECT o_year,
        |    round(sum(CASE WHEN supp_nation = 'NATION_1'
        |      THEN volume ELSE 0.0 END), 2) AS nation_volume,
        |    round(sum(volume), 2) AS total_volume
        |  FROM flat GROUP BY o_year)
        |SELECT o_year, nation_volume, total_volume,
        |  round(nation_volume / total_volume, 4) AS mkt_share
        |FROM agged ORDER BY o_year""".stripMargin,
    "j14_returned_items" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY c_custkey, c_name, acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "j15_big_orders" ->
      """SELECT c_custkey, c_name, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  round(o_totalprice, 2) AS totalprice,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_custkey, c_name, o_orderkey, order_date, totalprice
        |ORDER BY totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "j16_waiting_supplier" ->
      """WITH culprit AS (
        |  SELECT l_orderkey,
        |    count(DISTINCT l_suppkey) AS n_supp,
        |    count(DISTINCT CASE WHEN l_shipdate > o_orderdate
        |      + INTERVAL 60 DAY THEN l_suppkey END) AS n_late,
        |    max(CASE WHEN l_shipdate > o_orderdate
        |      + INTERVAL 60 DAY THEN l_suppkey END) AS late_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey
        |  HAVING count(DISTINCT l_suppkey) > 1
        |    AND count(DISTINCT CASE WHEN l_shipdate > o_orderdate
        |      + INTERVAL 60 DAY THEN l_suppkey END) = 1)
        |SELECT s_suppkey, s_name, count(*) AS n_waiting_orders
        |FROM culprit JOIN supplier ON late_suppkey = s_suppkey
        |GROUP BY s_suppkey, s_name
        |ORDER BY n_waiting_orders DESC, s_suppkey
        |LIMIT 50""".stripMargin,
    "q_abc_pareto" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    sum(l_extendedprice * (1 - l_discount)) AS revenue
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(revenue) AS tot FROM rev),
        |c AS (
        |  SELECT revenue,
        |    sum(revenue) OVER (ORDER BY revenue DESC, l_partkey)
        |      / (SELECT tot FROM t) AS cshare
        |  FROM rev)
        |SELECT CASE WHEN cshare <= 0.7 THEN 'A'
        |    WHEN cshare <= 0.9 THEN 'B' ELSE 'C' END AS abc_class,
        |  count(*) AS n_parts,
        |  round(sum(revenue) / (SELECT tot FROM t), 6) AS revenue_share
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_gini" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT c_nationkey, o_custkey, rev_cents
        |  FROM rev JOIN customer ON o_custkey = c_custkey),
        |ranked AS (
        |  SELECT c_nationkey, rev_cents,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY rev_cents, o_custkey) AS BIGINT) AS i
        |  FROM j)
        |SELECT c_nationkey, count(*) AS n_customers,
        |  round(sum(rev_cents) / 100.0, 2) AS total_revenue,
        |  round(2.0 * CAST(sum(i * rev_cents) AS BIGINT)
        |      / (count(*) * CAST(sum(rev_cents) AS BIGINT))
        |    - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM ranked GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    "j21_excess_shippers" ->
      """WITH shipped AS (
        |  SELECT DISTINCT l_suppkey FROM (
        |    SELECT l_suppkey, l_partkey FROM lineitem
        |    JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |      AND l_shipdate < TIMESTAMP '1998-01-01'
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING sum(l_quantity) > 60))
        |SELECT s_suppkey, s_name FROM supplier
        |JOIN shipped ON s_suppkey = l_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    "j22_profit_by_nation" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |  round(CAST(sum(
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |    - CAST(round(p_retailprice * 10) AS BIGINT)
        |      * CAST(l_quantity AS BIGINT)) AS BIGINT) / 100.0, 2)
        |    AS profit,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY n_name, o_year
        |ORDER BY n_name, o_year DESC""".stripMargin,
    "j23_order_count_dist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "j24_disjunctive_revenue" ->
      """SELECT count(*) AS n_items,
        |  round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "j25_idle_rich_customers" ->
      """WITH seg AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
        |    c_acctbal
        |  FROM customer
        |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')),
        |thresh AS (
        |  SELECT CAST(sum(bal_cents) AS BIGINT) AS tot,
        |    count(*) AS n FROM seg WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS numcust,
        |  round(CAST(sum(bal_cents) AS BIGINT) / 100.0, 2) AS totacctbal
        |FROM seg, thresh
        |WHERE bal_cents * n > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "j26_promo_revenue" ->
      """SELECT date_trunc('month', l_shipdate) AS ship_month,
        |  round(sum(CASE WHEN p_type = 'PROMO' THEN rev_cents ELSE 0 END)
        |    * 100.0 / sum(rev_cents), 6) AS promo_share_pct,
        |  round(CAST(sum(rev_cents) AS BIGINT) / 100.0, 2) AS total_revenue
        |FROM (
        |  SELECT l_shipdate, p_type,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |      AS rev_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate < TIMESTAMP '1999-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j27_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |  round(rev_cents / 100.0, 2) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_cents = (SELECT max(rev_cents) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "j28_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'),
        |pp AS (
        |  SELECT l_partkey AS pk,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    count(*) AS n
        |  FROM li GROUP BY 1)
        |SELECT count(*) AS n_small_lines,
        |  round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) / 100.0 / 7.0, 2) AS avg_yearly
        |FROM li JOIN pp ON l_partkey = pk
        |WHERE CAST(l_quantity AS BIGINT) * 5 * n < sum_qty""".stripMargin,
    "j29_late_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "j32_damerau_blocked" ->
      """WITH n AS (
        |  SELECT p_name, count(*) AS cnt,
        |    string_split(p_name, ' ')[1] AS block
        |  FROM part GROUP BY p_name),
        |pairs AS (
        |  SELECT a.block,
        |    damerau_levenshtein(a.p_name, b.p_name) AS dl,
        |    levenshtein(a.p_name, b.p_name) AS lev,
        |    a.cnt * b.cnt AS rp
        |  FROM n a JOIN n b ON a.block = b.block
        |    AND a.p_name < b.p_name
        |    AND abs(length(a.p_name) - length(b.p_name)) <= 3
        |    AND levenshtein(a.p_name, b.p_name) <= 6)
        |SELECT block, CAST(dl AS INT) AS dl,
        |  count(*) AS n_value_pairs,
        |  CAST(sum(rp) AS BIGINT) AS n_record_pairs,
        |  CAST(sum(CASE WHEN dl < lev THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_transposition_wins
        |FROM pairs WHERE dl BETWEEN 1 AND 3
        |GROUP BY block, dl
        |ORDER BY block, dl""".stripMargin,
    "j31_not_in_null" ->
      """WITH sub AS (
        |  SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
        |    ELSE o_custkey END AS ck
        |  FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT 'not_exists' AS variant, count(*) AS n FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.ck = c.c_custkey)
        |UNION ALL
        |SELECT 'not_in_clean', count(*) FROM customer
        |WHERE c_custkey NOT IN (SELECT ck FROM sub WHERE ck IS NOT NULL)
        |UNION ALL
        |SELECT 'not_in_with_nulls', count(*) FROM customer
        |WHERE c_custkey NOT IN (SELECT ck FROM sub)
        |ORDER BY variant""".stripMargin,
    "q_interpolate" ->
      """WITH daily AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |    round(avg(value), 4) AS v
        |  FROM events WHERE day(ts) % 3 = 1 GROUP BY 1, 2),
        |spine AS (
        |  SELECT strftime(g.d, '%Y-%m-%d') AS day, k.event_type
        |  FROM generate_series(DATE '2024-01-01', DATE '2024-01-30',
        |      INTERVAL 1 DAY) g(d)
        |  CROSS JOIN (SELECT DISTINCT event_type FROM daily) k),
        |grid AS (
        |  SELECT s.day, s.event_type, d.v
        |  FROM spine s LEFT JOIN daily d USING (day, event_type)),
        |w AS (
        |  SELECT day, event_type, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY day ROWS BETWEEN CURRENT ROW
        |      AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
        |  FROM grid)
        |SELECT day, event_type,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      pv + (nv - pv) *
        |        (CAST(date_diff('day', CAST(pd AS DATE),
        |            CAST(day AS DATE)) AS DOUBLE) /
        |         CAST(date_diff('day', CAST(pd AS DATE),
        |            CAST(nd AS DATE)) AS DOUBLE))
        |    ELSE coalesce(pv, nv) END, 4) AS v,
        |  (v IS NULL) AS interpolated
        |FROM w ORDER BY day, event_type""".stripMargin,
    "j30_jw_linkage" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name,
        |    string_split(p_name, ' ')[1] AS block
        |  FROM part),
        |pairs AS (
        |  SELECT a.block, a.p_partkey AS a_key, b.p_partkey AS b_key,
        |    round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |  FROM p a JOIN p b ON a.block = b.block
        |    AND a.p_partkey < b.p_partkey),
        |q AS (SELECT * FROM pairs WHERE jw >= 0.93),
        |r AS (
        |  SELECT block, a_key, b_key, jw,
        |    CAST(count(*) OVER (PARTITION BY block) AS BIGINT) AS n_pairs,
        |    CAST(row_number() OVER (PARTITION BY block
        |      ORDER BY jw DESC, a_key, b_key) AS INT) AS rk
        |  FROM q)
        |SELECT block, rk, a_key, b_key, jw, n_pairs
        |FROM r WHERE rk <= 3
        |ORDER BY block, rk""".stripMargin,
    "w12_native_topk" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rk
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rk <= 5
        |ORDER BY event_type, value DESC, event_id""".stripMargin,
    "q_spacesaving_topk" ->
      """WITH c AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS item,
        |    count(*) AS cnt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, item, cnt,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cnt DESC, item) AS rk
        |  FROM c)
        |SELECT event_type, CAST(rk AS INT) AS rk, item, cnt,
        |  CAST(0 AS BIGINT) AS err
        |FROM r WHERE rk <= 10
        |ORDER BY event_type, rk""".stripMargin,
    "j34_er_pipeline" ->
      """WITH RECURSIVE c AS (
        |  SELECT p_name, count(*) AS cnt, min(p_partkey) AS ckey,
        |    string_split(p_name, ' ')[1] AS block
        |  FROM part GROUP BY p_name),
        |e0 AS (
        |  SELECT a.ckey AS src, b.ckey AS dst FROM c a JOIN c b
        |  ON a.block = b.block AND a.p_name < b.p_name
        |    AND abs(length(a.p_name) - length(b.p_name)) <= 3
        |    AND levenshtein(a.p_name, b.p_name) <= 3),
        |edges AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst, src FROM e0),
        |lbl(node, comp) AS (
        |  SELECT ckey, ckey FROM c
        |  UNION
        |  SELECT e.dst, l.comp FROM lbl l JOIN edges e ON e.src = l.node),
        |comp AS (SELECT node, min(comp) AS cluster FROM lbl GROUP BY node),
        |m AS (SELECT c.*, comp.cluster FROM c
        |  JOIN comp ON c.ckey = comp.node),
        |g AS (SELECT block, cluster,
        |    count(DISTINCT p_name) AS n_names, sum(cnt) AS n_records
        |  FROM m GROUP BY 1, 2)
        |SELECT g.block, g.cluster AS canon_key,
        |  cn.p_name AS canonical_name,
        |  CAST(g.n_names AS BIGINT) AS n_names,
        |  CAST(g.n_records AS BIGINT) AS n_records
        |FROM g JOIN m cn ON cn.ckey = g.cluster
        |ORDER BY g.block, canon_key""".stripMargin,
    "j33_segment_er" ->
      """WITH n AS (
        |  SELECT p_name AS name, count(*) AS cnt FROM part GROUP BY 1),
        |pairs AS (
        |  SELECT a.name AS a_name, b.name AS b_name,
        |    a.cnt AS a_cnt, b.cnt AS b_cnt,
        |    levenshtein(a.name, b.name) AS dist
        |  FROM n a JOIN n b ON a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 3)
        |SELECT dist, count(*) AS n_value_pairs,
        |  CAST(sum(a_cnt * b_cnt) AS BIGINT) AS n_record_pairs,
        |  CAST(sum(CASE WHEN string_split(a_name, ' ')[1] <>
        |    string_split(b_name, ' ')[1] THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cross_block
        |FROM pairs GROUP BY dist ORDER BY dist""".stripMargin,
    "q_spacesaving_approx" ->
      """WITH ev AS (
        |  SELECT lang FROM documents WHERE lang IS NOT NULL),
        |c AS (SELECT lang AS item, count(*) AS true_cnt
        |  FROM ev GROUP BY 1),
        |top AS (SELECT item AS top_item, true_cnt AS top_true_cnt
        |  FROM c ORDER BY true_cnt DESC, item LIMIT 1)
        |SELECT (SELECT count(*) FROM ev) AS n,
        |  CAST(4 AS INT) AS k_rows,
        |  top_item, top_true_cnt,
        |  true AS bracket_ok, true AS top_covered
        |FROM top""".stripMargin,
    "q_dow_seasonality" ->
      """WITH overall AS (
        |  SELECT event_type, avg(value) AS mu FROM events
        |  WHERE value IS NOT NULL GROUP BY 1)
        |SELECT e.event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
        |  count(*) AS n,
        |  round(avg(value) / mu, 6) AS seasonality_idx
        |FROM events e JOIN overall o ON e.event_type = o.event_type
        |WHERE value IS NOT NULL
        |GROUP BY e.event_type, dow, mu
        |ORDER BY e.event_type, dow""".stripMargin,
    "q_cohort_ltv" ->
      """WITH cohorts AS (
        |  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
        |  FROM orders GROUP BY 1),
        |sizes AS (SELECT cohort, count(*) AS n_customers
        |  FROM cohorts GROUP BY 1),
        |aged AS (
        |  SELECT c.cohort,
        |    CAST(date_diff('month', c.cohort,
        |      date_trunc('month', o.o_orderdate)) AS INT) AS age,
        |    sum(round(o.o_totalprice * 100)) AS rev_cents
        |  FROM orders o JOIN cohorts c USING (o_custkey) GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort, age,
        |    sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age
        |      ROWS UNBOUNDED PRECEDING) AS cum_cents
        |  FROM aged)
        |SELECT strftime(cohort, '%Y-%m') AS cohort, age, n_customers,
        |  (CAST(cum_cents AS BIGINT) * 100 // n_customers) / 10000.0
        |    AS ltv
        |FROM cum JOIN sizes USING (cohort)
        |ORDER BY cohort, age""".stripMargin,
    "q_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    CAST((SELECT max(o_orderdate) FROM orders) AS DATE)
        |      - CAST(max(o_orderdate) AS DATE) AS recency_days,
        |    count(*) AS frequency,
        |    round(sum(o_totalprice), 2) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |scored AS (
        |  SELECT *,
        |    CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey)
        |      AS BIGINT) AS r,
        |    CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
        |      AS BIGINT) AS f,
        |    CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey)
        |      AS BIGINT) AS m
        |  FROM base)
        |SELECT r, f, m, count(*) AS n_customers,
        |  round(sum(monetary), 2) AS segment_value
        |FROM scored GROUP BY 1, 2, 3 ORDER BY r, f, m""".stripMargin,
    "q_skew_report" ->
      """WITH c AS (
        |  SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM lineitem)
        |SELECT l_suppkey, n,
        |  round(n / (SELECT total FROM t), 6) AS share
        |FROM c ORDER BY n DESC, l_suppkey LIMIT 10""".stripMargin,
    "q_weighted_quantiles" ->
      """WITH c AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    sum(l_quantity) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice
        |      ROWS UNBOUNDED PRECEDING) AS cumw,
        |    sum(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL)
        |SELECT g AS l_returnflag,
        |  round(min(CASE WHEN cumw >= 0.25 * totw THEN v END), 2) AS wq25,
        |  round(min(CASE WHEN cumw >= 0.50 * totw THEN v END), 2) AS wq50,
        |  round(min(CASE WHEN cumw >= 0.75 * totw THEN v END), 2) AS wq75
        |FROM c GROUP BY g ORDER BY g""".stripMargin,
    "q_trend_slope" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS m
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT a.event_type, count(*) AS n_pairs,
        |  round(quantile_cont((b.m - a.m) / (b.day - a.day), 0.5), 6)
        |    AS theil_sen
        |FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND b.day > a.day
        |GROUP BY a.event_type ORDER BY a.event_type""".stripMargin,
    "q_acf" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS m
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |lags AS (SELECT unnest(range(1, 8)) AS lag)
        |SELECT d.event_type, CAST(l.lag AS INT) AS lag,
        |  count(*) AS n_pairs,
        |  round(corr(d.m, p.m), 6) AS acf
        |FROM daily d
        |CROSS JOIN lags l
        |JOIN daily p ON p.event_type = d.event_type
        |  AND p.day = d.day - CAST(l.lag AS INT)
        |GROUP BY 1, 2 ORDER BY d.event_type, lag""".stripMargin,
    "q_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    avg(value) AS m
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |c0 AS (
        |  SELECT event_type, day, m,
        |    avg(m) OVER (PARTITION BY event_type) AS mu,
        |    count(*) OVER (PARTITION BY event_type) AS n_days
        |  FROM daily),
        |c AS (
        |  SELECT event_type, day, n_days,
        |    sum(m - mu) OVER (PARTITION BY event_type ORDER BY day)
        |      AS cusum
        |  FROM c0),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(cusum) DESC, day) AS rk
        |  FROM c)
        |SELECT event_type, day AS cp_day,
        |  round(abs(cusum), 4) AS max_excursion, n_days
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "q_forecast" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS m
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |j AS (
        |  SELECT a.event_type, a.m, f.m AS f
        |  FROM daily a JOIN daily f
        |    ON a.event_type = f.event_type AND f.day + 7 = a.day
        |  WHERE abs(a.m) > 1e-12 AND abs(f.m) > 1e-12)
        |SELECT event_type, count(*) AS n_scored,
        |  round(avg(abs(m - f) / abs(m)), 6) AS mape,
        |  round(avg(2 * abs(m - f) / (abs(m) + abs(f))), 6) AS smape,
        |  round(avg(f - m), 4) AS bias
        |FROM j GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_ohlc" ->
      """WITH t AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, ts, event_id,
        |    value
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY day, event_type
        |      ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY day, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM t)
        |SELECT day, event_type,
        |  max(CASE WHEN ra = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rd = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM r GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    "q_twap" ->
      """WITH t AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, value,
        |    CAST(epoch_us(lead(ts) OVER (PARTITION BY event_type,
        |        CAST(ts AS DATE) ORDER BY ts, event_id)
        |      - ts) AS DOUBLE) AS dur
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, day,
        |  round(sum(value * dur) / sum(dur), 6) AS twap,
        |  count(*) AS n_intervals
        |FROM t WHERE dur IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY event_type, day""".stripMargin,
    "q_top_paths" ->
      """WITH steps AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
        |  count(*) AS n
        |FROM steps WHERE e3 IS NOT NULL
        |GROUP BY 1
        |ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "q_transition_matrix" ->
      """WITH steps AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events)
        |SELECT from_type, to_type, count(*) AS n,
        |  round(CAST(count(*) AS DOUBLE) / sum(count(*))
        |    OVER (PARTITION BY from_type), 6) AS p
        |FROM steps WHERE to_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY from_type, to_type""".stripMargin,
    "graph_triangles" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e AS (
        |  SELECT a.i AS u, c.i AS v, count(*) AS co
        |  FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT x, count(*) AS d FROM (
        |  SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |  GROUP BY 1),
        |tri AS (SELECT count(*) AS t FROM e e1
        |  JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
        |w AS (SELECT CAST(sum(d * (d - 1)) AS DOUBLE) / 2.0 AS wedges
        |  FROM deg)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |  (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT t FROM tri) AS n_triangles,
        |  round(3.0 * (SELECT t FROM tri) / (SELECT wedges FROM w), 6)
        |    AS clustering""".stripMargin,
    "j18_min_cost_supplier" ->
      """WITH su AS (
        |  SELECT s_suppkey, s_name, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l_partkey, s_suppkey, s_name, n_name,
        |    min((CAST(round(l_extendedprice * 100) AS BIGINT) * 100
        |      // CAST(l_quantity AS BIGINT)) / 10000.0) AS unit_cost
        |  FROM lineitem JOIN su ON l_suppkey = s_suppkey
        |  WHERE l_partkey < 500 AND l_quantity > 0
        |  GROUP BY 1, 2, 3, 4)
        |SELECT l_partkey AS partkey, p_name, s_suppkey, s_name, n_name,
        |  unit_cost
        |FROM cost
        |JOIN part ON l_partkey = p_partkey
        |WHERE unit_cost = (SELECT min(unit_cost) FROM cost c2
        |  WHERE c2.l_partkey = cost.l_partkey)
        |ORDER BY partkey, s_suppkey""".stripMargin,
    "j19_fuzzy_blocked" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name,
        |    string_split(p_name, ' ')[1] AS block
        |  FROM part)
        |SELECT a.block AS block, levenshtein(a.p_name, b.p_name) AS dist,
        |  count(*) AS n_pairs,
        |  count(DISTINCT a.p_partkey) AS n_left
        |FROM p a JOIN p b ON a.block = b.block
        |  AND a.p_partkey < b.p_partkey
        |  AND a.p_name <> b.p_name
        |  AND levenshtein(a.p_name, b.p_name) <= 3
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q_market_basket" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |nb AS (SELECT count(DISTINCT b) AS n FROM items),
        |freq AS (SELECT i, count(*) AS f FROM items GROUP BY i),
        |pairs AS (
        |  SELECT a.i AS item_a, c.i AS item_b, count(*) AS n_co
        |  FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 3)
        |SELECT item_a, item_b, n_co,
        |  round(CAST(n_co AS DOUBLE) / nb.n, 6) AS support,
        |  round(CAST(n_co AS DOUBLE) / fa.f, 6) AS confidence_ab,
        |  round(nb.n * CAST(n_co AS DOUBLE) / (fa.f * fb.f), 6) AS lift
        |FROM pairs
        |CROSS JOIN nb
        |JOIN freq fa ON fa.i = item_a
        |JOIN freq fb ON fb.i = item_b
        |ORDER BY lift DESC, item_a, item_b
        |LIMIT 100""".stripMargin,
    "j17_bloom_reduced" ->
      """SELECT s_suppkey, s_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_acctbal > 6000
        |GROUP BY s_suppkey, s_name
        |ORDER BY revenue DESC, s_suppkey
        |LIMIT 20""".stripMargin,
    "graph_reachability" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS cnode,
        |    l_suppkey * 2 + 1 AS snode
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity > 45),
        |edges AS (
        |  SELECT cnode AS src, snode AS dst FROM pairs
        |  UNION ALL SELECT snode, cnode FROM pairs),
        |reach(node, depth) AS (
        |  SELECT c_custkey * 2, 0 FROM customer WHERE c_nationkey = 7
        |  UNION
        |  SELECT e.dst, r.depth + 1
        |  FROM reach r JOIN edges e ON e.src = r.node
        |  WHERE r.depth < 3)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
        |    ELSE 's' || ((node - 1) // 2) END AS node,
        |  CAST(min(depth) AS INT) AS depth
        |FROM reach GROUP BY node
        |ORDER BY CAST(min(depth) AS INT),
        |  CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
        |    ELSE 's' || ((node - 1) // 2) END""".stripMargin,
    "graph_kcore" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS cnode,
        |    l_suppkey * 2 + 1 AS snode
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity > 45),
        |e0 AS (
        |  SELECT cnode AS src, snode AS dst FROM pairs
        |  UNION ALL SELECT snode, cnode FROM pairs),
        |k0 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 3),
        |e1 AS (SELECT e.src, e.dst FROM e0 e
        |  JOIN k0 a ON e.src = a.src JOIN k0 b ON e.dst = b.src),
        |k1 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 3),
        |e2 AS (SELECT e.src, e.dst FROM e1 e
        |  JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
        |k2 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= 3),
        |e3 AS (SELECT e.src, e.dst FROM e2 e
        |  JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src),
        |k3 AS (SELECT src FROM e3 GROUP BY src HAVING count(*) >= 3),
        |e4 AS (SELECT e.src, e.dst FROM e3 e
        |  JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src)
        |SELECT CASE WHEN src % 2 = 0 THEN 'c' || (src // 2)
        |    ELSE 's' || ((src - 1) // 2) END AS node,
        |  count(*) AS deg
        |FROM e4 GROUP BY src
        |ORDER BY deg DESC,
        |  CASE WHEN src % 2 = 0 THEN 'c' || (src // 2)
        |    ELSE 's' || ((src - 1) // 2) END""".stripMargin,
    "graph_cheapest" ->
      """WITH pairs AS (
        |  SELECT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode,
        |    CAST(min(l_quantity) AS BIGINT) AS w
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity <= 10
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT cnode AS src, snode AS dst, w FROM pairs
        |  UNION ALL SELECT snode, cnode, w FROM pairs),
        |d0 AS (
        |  SELECT DISTINCT c_custkey * 2 AS node, CAST(0 AS BIGINT) AS dist
        |  FROM customer WHERE c_nationkey = 7),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d0
        |  UNION ALL
        |  SELECT e.dst, d0.dist + e.w FROM d0
        |    JOIN edges e ON e.src = d0.node) t GROUP BY node),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d1
        |  UNION ALL
        |  SELECT e.dst, d1.dist + e.w FROM d1
        |    JOIN edges e ON e.src = d1.node) t GROUP BY node),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d2
        |  UNION ALL
        |  SELECT e.dst, d2.dist + e.w FROM d2
        |    JOIN edges e ON e.src = d2.node) t GROUP BY node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
        |    ELSE 's' || ((node - 1) // 2) END AS node,
        |  dist
        |FROM d3
        |ORDER BY dist,
        |  CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
        |    ELSE 's' || ((node - 1) // 2) END""".stripMargin,
    // min-label propagation replica: rounds unrolled as chained CTEs;
    // each round = neighbor-min aggregate + least() against own label
    // (closed neighborhood), exactly the engine's superstep.
    "graph_label_prop" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS cnode,
        |    l_suppkey * 2 + 1 AS snode
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity > 45),
        |edges AS (
        |  SELECT cnode AS src, snode AS dst FROM pairs
        |  UNION ALL SELECT snode, cnode FROM pairs),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
        |l1 AS (SELECT l.node,
        |    least(l.label, coalesce(n.nbr, l.label)) AS label
        |  FROM l0 l LEFT JOIN (SELECT e.dst AS node, min(l.label) AS nbr
        |    FROM l0 l JOIN edges e ON l.node = e.src GROUP BY e.dst) n
        |  ON l.node = n.node),
        |l2 AS (SELECT l.node,
        |    least(l.label, coalesce(n.nbr, l.label)) AS label
        |  FROM l1 l LEFT JOIN (SELECT e.dst AS node, min(l.label) AS nbr
        |    FROM l1 l JOIN edges e ON l.node = e.src GROUP BY e.dst) n
        |  ON l.node = n.node),
        |l3 AS (SELECT l.node,
        |    least(l.label, coalesce(n.nbr, l.label)) AS label
        |  FROM l2 l LEFT JOIN (SELECT e.dst AS node, min(l.label) AS nbr
        |    FROM l2 l JOIN edges e ON l.node = e.src GROUP BY e.dst) n
        |  ON l.node = n.node)
        |SELECT label AS community, count(*) AS n_members,
        |  min(node) AS min_node, max(node) AS max_node
        |FROM l3 GROUP BY label
        |ORDER BY n_members DESC, community
        |LIMIT 100""".stripMargin,
    // orders go c->s at order date, shipments s->c at ship date; 3
    // relaxation rounds of the min-arrival DP unrolled, the temporal
    // gate (e.ts >= arrival) inside each join condition
    "graph_temporal_reach" ->
      """WITH e AS (
        |  SELECT DISTINCT * FROM (
        |    SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
        |      o_orderdate AS ts
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    WHERE l_quantity > 45
        |    UNION ALL
        |    SELECT l_suppkey * 2 + 1, o_custkey * 2, l_shipdate
        |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    WHERE l_quantity > 45)),
        |a0 AS (SELECT c_custkey * 2 AS node,
        |    TIMESTAMP '1990-01-01 00:00:00' AS arrival
        |  FROM customer WHERE c_nationkey = 7),
        |a1 AS (SELECT coalesce(a.node, m.n2) AS node,
        |    least(coalesce(a.arrival, m.arr2),
        |      coalesce(m.arr2, a.arrival)) AS arrival
        |  FROM a0 a FULL JOIN (SELECT e.dst AS n2, min(e.ts) AS arr2
        |    FROM a0 x JOIN e ON e.src = x.node AND e.ts >= x.arrival
        |    GROUP BY e.dst) m ON a.node = m.n2),
        |a2 AS (SELECT coalesce(a.node, m.n2) AS node,
        |    least(coalesce(a.arrival, m.arr2),
        |      coalesce(m.arr2, a.arrival)) AS arrival
        |  FROM a1 a FULL JOIN (SELECT e.dst AS n2, min(e.ts) AS arr2
        |    FROM a1 x JOIN e ON e.src = x.node AND e.ts >= x.arrival
        |    GROUP BY e.dst) m ON a.node = m.n2),
        |a3 AS (SELECT coalesce(a.node, m.n2) AS node,
        |    least(coalesce(a.arrival, m.arr2),
        |      coalesce(m.arr2, a.arrival)) AS arrival
        |  FROM a2 a FULL JOIN (SELECT e.dst AS n2, min(e.ts) AS arr2
        |    FROM a2 x JOIN e ON e.src = x.node AND e.ts >= x.arrival
        |    GROUP BY e.dst) m ON a.node = m.n2)
        |SELECT
        |  CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
        |    ELSE 's' || ((node - 1) // 2) END AS node,
        |  arrival
        |FROM a3
        |ORDER BY 1""".stripMargin,
    // 3 forward coloring rounds then 3 backward confirmation rounds,
    // unrolled — the directed-edge derivation (hi-qty c→s, lo-qty s→c)
    // and both loops replayed exactly
    "graph_scc" ->
      """WITH pairs AS (
        |  SELECT DISTINCT
        |    CASE WHEN l_quantity > 45 THEN o_custkey * 2
        |      ELSE l_suppkey * 2 + 1 END AS src,
        |    CASE WHEN l_quantity > 45 THEN l_suppkey * 2 + 1
        |      ELSE o_custkey * 2 END AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_quantity > 45 OR l_quantity < 5),
        |n0 AS (SELECT src AS node FROM pairs
        |  UNION SELECT dst FROM pairs),
        |c0 AS (SELECT node, node AS color FROM n0),
        |c1 AS (SELECT c.node,
        |    least(c.color, coalesce(m.cmin, c.color)) AS color
        |  FROM c0 c LEFT JOIN (SELECT e.dst AS node, min(x.color) AS cmin
        |    FROM c0 x JOIN pairs e ON x.node = e.src GROUP BY e.dst) m
        |  ON c.node = m.node),
        |c2 AS (SELECT c.node,
        |    least(c.color, coalesce(m.cmin, c.color)) AS color
        |  FROM c1 c LEFT JOIN (SELECT e.dst AS node, min(x.color) AS cmin
        |    FROM c1 x JOIN pairs e ON x.node = e.src GROUP BY e.dst) m
        |  ON c.node = m.node),
        |c3 AS (SELECT c.node,
        |    least(c.color, coalesce(m.cmin, c.color)) AS color
        |  FROM c2 c LEFT JOIN (SELECT e.dst AS node, min(x.color) AS cmin
        |    FROM c2 x JOIN pairs e ON x.node = e.src GROUP BY e.dst) m
        |  ON c.node = m.node),
        |f0 AS (SELECT node, color, (node = color) AS in_scc FROM c3),
        |f1 AS (SELECT f.node, f.color,
        |    (f.in_scc OR t.src IS NOT NULL) AS in_scc
        |  FROM f0 f LEFT JOIN (SELECT DISTINCT e.src, g.color
        |    FROM f0 g JOIN pairs e ON g.node = e.dst WHERE g.in_scc) t
        |  ON t.src = f.node AND t.color = f.color),
        |f2 AS (SELECT f.node, f.color,
        |    (f.in_scc OR t.src IS NOT NULL) AS in_scc
        |  FROM f1 f LEFT JOIN (SELECT DISTINCT e.src, g.color
        |    FROM f1 g JOIN pairs e ON g.node = e.dst WHERE g.in_scc) t
        |  ON t.src = f.node AND t.color = f.color),
        |f3 AS (SELECT f.node, f.color,
        |    (f.in_scc OR t.src IS NOT NULL) AS in_scc
        |  FROM f2 f LEFT JOIN (SELECT DISTINCT e.src, g.color
        |    FROM f2 g JOIN pairs e ON g.node = e.dst WHERE g.in_scc) t
        |  ON t.src = f.node AND t.color = f.color)
        |SELECT
        |  CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
        |    ELSE 's' || ((node - 1) // 2) END AS node,
        |  CASE WHEN color % 2 = 0 THEN 'c' || (color // 2)
        |    ELSE 's' || ((color - 1) // 2) END AS color,
        |  in_scc
        |FROM f3
        |ORDER BY 1""".stripMargin,
    "graph_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS cnode,
        |    l_suppkey * 2 + 1 AS snode
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT cnode AS src, snode AS dst FROM pairs
        |  UNION ALL SELECT snode, cnode FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |p AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |ce AS (
        |  SELECT src, dst, 1.0 / deg AS w
        |  FROM edges JOIN (SELECT src, count(*) AS deg FROM edges
        |    GROUP BY 1) d USING (src)),
        |r0 AS (SELECT node, 1.0 / (SELECT n FROM p) AS rank FROM nodes),
        |r1 AS (SELECT node, 0.15 / (SELECT n FROM p) + 0.85 *
        |    coalesce(m, 0) AS rank
        |  FROM nodes LEFT JOIN (SELECT dst, sum(r0.rank * w) AS m
        |    FROM ce JOIN r0 ON ce.src = r0.node GROUP BY dst) s
        |  ON node = s.dst),
        |r2 AS (SELECT node, 0.15 / (SELECT n FROM p) + 0.85 *
        |    coalesce(m, 0) AS rank
        |  FROM nodes LEFT JOIN (SELECT dst, sum(r1.rank * w) AS m
        |    FROM ce JOIN r1 ON ce.src = r1.node GROUP BY dst) s
        |  ON node = s.dst),
        |r3 AS (SELECT node, 0.15 / (SELECT n FROM p) + 0.85 *
        |    coalesce(m, 0) AS rank
        |  FROM nodes LEFT JOIN (SELECT dst, sum(r2.rank * w) AS m
        |    FROM ce JOIN r2 ON ce.src = r2.node GROUP BY dst) s
        |  ON node = s.dst)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
        |    ELSE 's' || ((node - 1) // 2) END AS node,
        |  round(rank, 6) AS rank FROM r3
        |ORDER BY round(rank, 6) DESC,
        |  CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
        |    ELSE 's' || ((node - 1) // 2) END
        |LIMIT 50""".stripMargin,
    // 2 unrolled mutual-reinforcement rounds, L1-normalized per
    // half-step exactly as Hits.hits does (sum + one division, no
    // sqrt); round(,6) absorbs last-ulp summation-order divergence
    "graph_hits" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS cnode,
        |    l_suppkey * 2 + 1 AS snode
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |h0 AS (SELECT DISTINCT cnode AS node, 1.0 AS hub FROM pairs),
        |a1r AS (SELECT snode AS node, sum(h0.hub) AS s
        |  FROM pairs JOIN h0 ON cnode = h0.node GROUP BY snode),
        |a1 AS (SELECT node, s / (SELECT sum(s) FROM a1r) AS auth
        |  FROM a1r),
        |h1r AS (SELECT cnode AS node, sum(a1.auth) AS s
        |  FROM pairs JOIN a1 ON snode = a1.node GROUP BY cnode),
        |h1 AS (SELECT node, s / (SELECT sum(s) FROM h1r) AS hub
        |  FROM h1r),
        |a2r AS (SELECT snode AS node, sum(h1.hub) AS s
        |  FROM pairs JOIN h1 ON cnode = h1.node GROUP BY snode),
        |a2 AS (SELECT node, s / (SELECT sum(s) FROM a2r) AS auth
        |  FROM a2r),
        |h2r AS (SELECT cnode AS node, sum(a2.auth) AS s
        |  FROM pairs JOIN a2 ON snode = a2.node GROUP BY cnode),
        |h2 AS (SELECT node, s / (SELECT sum(s) FROM h2r) AS hub
        |  FROM h2r),
        |top_a AS (
        |  SELECT 'auth' AS role, 's' || ((node - 1) // 2) AS node,
        |    round(auth, 6) AS score
        |  FROM a2 ORDER BY round(auth, 6) DESC,
        |    's' || ((node - 1) // 2) LIMIT 25),
        |top_h AS (
        |  SELECT 'hub' AS role, 'c' || (node // 2) AS node,
        |    round(hub, 6) AS score
        |  FROM h2 ORDER BY round(hub, 6) DESC,
        |    'c' || (node // 2) LIMIT 25)
        |SELECT role, node, score FROM
        |  (SELECT * FROM top_a UNION ALL SELECT * FROM top_h)
        |ORDER BY role, score DESC, node""".stripMargin,
    // personalized teleport: (1.0-0.85)/|seeds| on nation-7 customer
    // seeds, 0 elsewhere; r0 = tele/(1.0-0.85) — the same double ops
    // the Spark loop executes, unrolled 3 rounds
    "graph_ppr" ->
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS cnode,
        |    l_suppkey * 2 + 1 AS snode
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT cnode AS src, snode AS dst FROM pairs
        |  UNION ALL SELECT snode, cnode FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |seeds AS (
        |  SELECT DISTINCT c_custkey * 2 AS node FROM customer
        |  WHERE c_nationkey = 7
        |  INTERSECT SELECT node FROM nodes),
        |ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds),
        |tele AS (SELECT n0.node,
        |    CASE WHEN s.node IS NOT NULL
        |      THEN (1.0 - 0.85) / (SELECT n FROM ns) ELSE 0.0 END AS tele
        |  FROM nodes n0 LEFT JOIN seeds s ON n0.node = s.node),
        |ce AS (
        |  SELECT src, dst, 1.0 / deg AS w
        |  FROM edges JOIN (SELECT src, count(*) AS deg FROM edges
        |    GROUP BY 1) d USING (src)),
        |r0 AS (SELECT node, tele / (1.0 - 0.85) AS rank FROM tele),
        |r1 AS (SELECT t.node, t.tele + 0.85 * coalesce(m, 0) AS rank
        |  FROM tele t LEFT JOIN (SELECT dst, sum(r0.rank * w) AS m
        |    FROM ce JOIN r0 ON ce.src = r0.node GROUP BY dst) s
        |  ON t.node = s.dst),
        |r2 AS (SELECT t.node, t.tele + 0.85 * coalesce(m, 0) AS rank
        |  FROM tele t LEFT JOIN (SELECT dst, sum(r1.rank * w) AS m
        |    FROM ce JOIN r1 ON ce.src = r1.node GROUP BY dst) s
        |  ON t.node = s.dst),
        |r3 AS (SELECT t.node, t.tele + 0.85 * coalesce(m, 0) AS rank
        |  FROM tele t LEFT JOIN (SELECT dst, sum(r2.rank * w) AS m
        |    FROM ce JOIN r2 ON ce.src = r2.node GROUP BY dst) s
        |  ON t.node = s.dst)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
        |    ELSE 's' || ((node - 1) // 2) END AS node,
        |  round(rank, 6) AS rank FROM r3
        |ORDER BY round(rank, 6) DESC,
        |  CASE WHEN node % 2 = 0 THEN 'c' || (node // 2)
        |    ELSE 's' || ((node - 1) // 2) END
        |LIMIT 50""".stripMargin,
    "j3_star_join" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "j4_full_outer" ->
      """SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
        |  c.n_customers, s.n_suppliers
        |FROM (SELECT c_nationkey, count(*) AS n_customers
        |      FROM customer GROUP BY c_nationkey) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey, count(*) AS n_suppliers
        |      FROM supplier GROUP BY s_nationkey) s
        |ON c.c_nationkey = s.s_nationkey
        |ORDER BY nationkey""".stripMargin,
    "j5_theta" ->
      """SELECT p_brand, count(*) AS n_pairs
        |FROM part JOIN supplier ON p_retailprice > s_acctbal
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "w1_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "w2_latest_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin,
    "w3_lag" ->
      """SELECT o_custkey, o_orderkey,
        |  round(o_totalprice - lag(o_totalprice, 1) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2)
        |    AS diff_prev,
        |  lead(o_orderkey, 1) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |    AS next_order,
        |  CAST(rank() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS price_rank
        |FROM orders
        |ORDER BY o_custkey, o_orderkey LIMIT 500""".stripMargin,
    "w4_running" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(sum(l_quantity) OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_qty
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber, run_qty""".stripMargin,
    "w5_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin,
    "set_union" ->
      """SELECT event_id, user_id, value, NULL AS props
        |FROM events WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, user_id, NULL, props
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "set_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "set_intersect_all" ->
      """SELECT nationkey, count(*) AS multiplicity FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT ALL
        |  SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "set_except_all" ->
      """SELECT nationkey, count(*) AS multiplicity FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT ALL
        |  SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "a2_null_profile" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_id,
        |  CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_ts,
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_user_id,
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_type,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_value,
        |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_props
        |FROM events""".stripMargin,
    "a3_dup_stats" ->
      """SELECT n, n_distinct, n - n_distinct AS dup_count FROM
        |(SELECT (SELECT count(*) FROM lineitem) AS n,
        |   (SELECT count(*) FROM
        |     (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)) AS n_distinct)""".stripMargin,
    "a4_variance" ->
      """SELECT round(stddev_samp(l_tax), 6) AS std_tax,
        |  round(stddev_samp(l_discount), 6) AS std_discount,
        |  round(stddev_samp(l_tax), 6) = 0.0 AS tax_zero_variance
        |FROM lineitem""".stripMargin,
    "a8_pipeline" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
        |FROM events WHERE event_type = 'purchase' AND value > 50
        |GROUP BY user_id
        |ORDER BY total DESC, user_id LIMIT 20""".stripMargin,
    "a10_dup_groups" ->
      """SELECT l_partkey, l_suppkey, count(*) AS n,
        |  min(l_orderkey) AS first_orderkey
        |FROM lineitem GROUP BY l_partkey, l_suppkey
        |HAVING count(*) > 1
        |ORDER BY l_partkey, l_suppkey LIMIT 100""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        |  round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        |  round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
