package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{Pin, Pinned}

/** Near-duplicate CLUSTER formation: the step after pair detection that
  * an actual corpus dedup needs — connected components over the
  * near-dup pair graph, so transitively-linked documents (A~B, B~C)
  * collapse into one cluster with one canonical survivor (the min id),
  * even when A and C were never directly compared.
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction
  * (Kiveris et al. 2014, "Connected Components in MapReduce and
  * Beyond"). Large-star links every strictly-larger neighbor of a node
  * to its neighborhood minimum; small-star relinks the smaller
  * neighbors (and the node) to that minimum. Alternating the two
  * contracts any component into a star rooted at its minimum id in
  * O(log²) rounds — on a diameter-d chain the frontier doubles instead
  * of crawling, so rounds ≈ log d where plain hash-to-min label
  * propagation needs d (a 1000-hop chain: ~10 rounds, not 1000 —
  * ClusterSpec pins the round count on exactly that shape).
  *
  * Scale notes:
  *  - The pair graph is orders of magnitude smaller than the corpus
  *    that produced it (only docs with a near-dup appear). Below
  *    `smallGraphEdges` the edges are collected and union-find runs on
  *    the driver — the same small-side reasoning as a broadcast join,
  *    and it replaces an iterative shuffle loop with one collect. A
  *    100 TB corpus whose pair graph exceeds the threshold takes the
  *    distributed path automatically.
  *  - Distributed path: edges are checkpointed once (they'd otherwise
  *    re-run the upstream LSH/shingle join every round), partitions are
  *    sized to edge count (not corpus size), each round persists its
  *    edge set and materializes it through the convergence-fingerprint
  *    action; at the star fixpoint both operations are identities, so
  *    an unchanged (count, sumU, sumV) fingerprint IS the fixpoint
  *    (edge endpoints only ever decrease under both stars). Every
  *    round's edge set is EAGERLY localCheckpoint'ed: one round
  *    references its predecessor many times (the symmetric view twice,
  *    each star's min + relink), so retained lineage would nest the
  *    plan ~16× per round — checkpointing to a leaf keeps plan depth
  *    constant.
  */
object Cluster {

  /** Connected components of an undirected edge list.
    *
    * @param smallGraphEdges below this many edges, solve on the driver
    *                        (broadcast-join-style small-side path); set 0
    *                        to force the distributed loop.
    * @return (node, comp) for every node appearing in `edges`; `comp` is
    *         the minimum node id in the component — deterministic, and
    *         directly usable as the cluster's canonical survivor id.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, smallGraphEdges: Long = 4L << 20): DataFrame = {
    // checkpoint the raw pairs once: both paths re-read them, and the
    // upstream pair generation (an LSH/shingle join, the most expensive
    // stage of the whole dedup) must not re-execute per use
    val Pinned(oneWay, owBytes, edgeCount) = Pin(
      edges.select(col(srcCol).cast("long").as("node"),
        col(dstCol).cast("long").as("nbr")))
    if (edgeCount <= smallGraphEdges) driverUnionFind(oneWay)
    else distributedCC(oneWay, owBytes, edgeCount, maxIter)._1
  }

  /** [[connectedComponents]] forced onto the distributed path, also
    * returning the ROUND COUNT — the ClusterSpec hook that pins the
    * logarithmic convergence of star contraction on chain graphs. */
  private[graft] def connectedComponentsWithRounds(edges: DataFrame,
      srcCol: String, dstCol: String,
      maxIter: Int = 25): (DataFrame, Int) = {
    val Pinned(oneWay, owBytes, edgeCount) = Pin(
      edges.select(col(srcCol).cast("long").as("node"),
        col(dstCol).cast("long").as("nbr")))
    distributedCC(oneWay, owBytes, edgeCount, maxIter)
  }

  /** Small-graph path: one collect + path-compressed union-find. */
  private def driverUnionFind(oneWay: DataFrame): DataFrame = {
    val spark = oneWay.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    oneWay.toLocalIterator().forEachRemaining { row =>
      val (x, y) = (row.getLong(0), row.getLong(1))
      if (!parent.contains(x)) parent(x) = x
      if (!parent.contains(y)) parent(y) = y
      val (a, b) = (find(x), find(y))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val out = parent.keysIterator.map(n => (n, find(n))).toSeq
    spark.createDataset(out).toDF("node", "comp")
  }

  /** Large-graph path: alternating large-star / small-star rounds.
    * Returns (components, rounds-to-fixpoint-detection). */
  private def distributedCC(oneWay: DataFrame, owBytes: Long,
      edgeCount: Long, maxIter: Int): (DataFrame, Int) = {
    // partitions sized to the graph, not to the corpus that produced it:
    // a handful of tasks for a small pair graph, thousands for billions
    // of edges (~1M edges ≈ 16 MB per partition)
    val shuffleParts = oneWay.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val nParts = math.max(1L, math.min(shuffleParts.toLong * 32L,
      edgeCount / 1000000L + 1L)).toInt
    // the node universe (output grain) — fixed up front, because star
    // contraction drops self-loops and converged roots from the edges
    val nodes = oneWay.select(col("node"))
      .union(oneWay.select(col("nbr").as("node")))
      .distinct()
    // canonical orientation (bigger → smaller), self-loops out
    var e = oneWay.filter(col("node") =!= col("nbr"))
      .select(greatest(col("node"), col("nbr")).as("u"),
        least(col("node"), col("nbr")).as("v"))
      .distinct()
      .repartition(nParts, col("u"))
      // leaf lineage, same as every round below; contraction only ever
      // SHRINKS the edge frame, so the measured root bytes price every
      // round's pin in one shot
      .transform(Pin(_, owBytes).df)
    var fingerprint = e.agg(count(lit(1)), sum(col("u")), sum(col("v")))
      .collect()(0).toSeq
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val prev = e
      // LARGE-STAR: per node, every strictly-larger neighbor relinks
      // to min(Γ(u) ∪ {u}) — output stays (bigger → smaller)
      val sym = prev.union(prev.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
        .persist() // consumed twice below (min + relink join)
      // SMALL-STAR: per node, the node and its smaller neighbors all
      // relink to their minimum — with large-star's orientation this
      // is a group by the BIGGER endpoint
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next0 = ls.join(ssMin, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(ssMin.select(col("u"), col("m").as("v")))
        .distinct()
        .repartition(nParts, col("u"))
      // checkpoint EVERY round: a round references `prev` many times
      // (sym twice, each star's min + relink), so mere persist() —
      // which caches data but keeps lineage — would nest the logical
      // plan ~16× per round and explode exponentially; the eager
      // checkpoint truncates to a leaf and doubles as the
      // fingerprint's materializing action
      val next = next0.transform(Pin(_, owBytes).df)
      // at the star fixpoint BOTH operations are identities and edge
      // endpoints only ever decrease, so an unchanged fingerprint is
      // the fixpoint, never a coincidence
      val fp = next.agg(count(lit(1)), sum(col("u")), sum(col("v")))
        .collect()(0).toSeq
      ls.unpersist()
      prev.unpersist()
      converged = fp == fingerprint
      fingerprint = fp
      e = next
      it += 1
    }
    if (!converged)
      // exiting via the iteration cap means the contraction hasn't
      // reached the star fixpoint: components carry SPLIT (wrong) ids,
      // and survivors() built on them would keep documents whose
      // cluster already has a representative. Loud by design —
      // silence here corrupts downstream dedup.
      System.err.println(
        s"[graft.dedup.Cluster] WARNING: distributedCC hit maxIter=$maxIter " +
          "before the star fixpoint; component ids are NOT converged. " +
          "Re-run with a higher maxIter.")
    // fixpoint edges are (member → root) stars — one row per non-root
    // node. Mid-contraction (the unconverged cap exit) a node can still
    // link to SEVERAL targets; joining those would fan the node grain
    // out into duplicate rows with conflicting comp ids, which corrupts
    // survivors() worse than a merely-split label. Reduce to one link
    // per node (its minimum target) so the output grain is one row per
    // node on EVERY exit path; at the fixpoint this is structurally a
    // no-op, so only the warned path pays the extra aggregate.
    val links =
      if (converged) e.select(col("u").as("node"), col("v").as("comp"))
      else e.groupBy(col("u").as("node")).agg(min(col("v")).as("comp"))
    val comp = nodes.join(links, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
    (comp, it)
  }

  /** End-to-end near-dup collapse: keep one survivor per cluster (the
    * min id) plus every document that never appeared in a pair. */
  def survivors(docs: DataFrame, idCol: String,
      components: DataFrame): DataFrame = {
    val losers = components.filter(col("node") =!= col("comp"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }
}
