// Hosted under org.apache.spark.sql for the private[sql] plan/session
// bridges (classic.Dataset.ofRows, ExpressionUtils) — see
// CosineSimilarity.scala for the rationale.
package org.apache.spark.sql.graftx

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf

/** Whole-operator extension point (SURVEY.md §7 preference order c):
  * a custom LogicalPlan + planner Strategy + SparkPlan pair, injected
  * through `SparkSessionExtensions.injectPlannerStrategy` — grouped
  * top-k without sorting the full input the way Spark's own plan does.
  *
  * Spark 4.1 plans `row_number() OVER (PARTITION BY g ORDER BY o) <= k`
  * with `InferWindowGroupLimit`: a partial `WindowGroupLimit` below the
  * exchange already cuts each partition to ≤ k rows per group (see
  * `plans.Scale.groupedTopK`), so both forms shuffle the same bound.
  * The difference is the partial pass itself: the stock partial limit
  * needs a local **Sort(g, o) of every input row** first — O(n log n),
  * buffering the whole partition — where this operator keeps a bounded
  * k-heap per group (O(n log k), no sort over the raw input). Measured
  * on a 4-vCPU host (`local[4]`, medians, this operator vs stock):
  * events top-5 per type at sf0.1 126 vs 264 ms; 20M rows in 8 groups
  * 0.52 vs 8.3 s; 20M rows in 2M groups 18.0 vs 6.5 s — at high group
  * cardinality the per-group heap map costs more than the sort it
  * saves, and stock wins.
  *
  * Memory contract (ENFORCED, not just documented):
  *  - the partial pass caps its heap state at
  *    `spark.graft.topk.maxStateRows` rows (default 4M). On trip it
  *    FLUSHES: emits every buffered heap and resets the map — always
  *    correct before the merge (emitting a superset of each
  *    partition's top-k only weakens the reduction, never the answer)
  *    — so partial-state memory is bounded at any group cardinality.
  *    `numStateFlushes` and `peakStateRows` SQLMetrics surface when a
  *    workload is in this regime (flushes > 0 ⇒ raise the cap or
  *    pre-partition by group).
  *  - the FINAL pass requires its input sorted by (group, ordering) —
  *    Spark plans a SortExec over the already-reduced survivors
  *    (≤ k·upstreamPartitions rows per group), which SPILLS like any
  *    sort — and then streams: one counter per current group, O(k)
  *    state total. High group cardinality therefore degrades to disk,
  *    not OOM, exactly like the window form, while the raw input still
  *    never gets sorted.
  *
  * Determinism: callers must pass a TOTAL ordering (tie-break column
  * included), same as every judged query's ORDER BY contract. Group
  * expressions must be orderable (they become the final sort prefix).
  */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"k must be >= 1, got $k")
  require(groupExprs.nonEmpty, "need at least one grouping expression")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerGroupNode = copy(child = newChild)
}

/** Plans [[TopKPerGroupNode]] as final(sort(exchange(partial(child))))
  * — the exchange materializes from the final exec's required
  * distribution and the sort from its required ordering, exactly how
  * partial/final hash aggregation and sort-merge join are assembled. */
object TopKPerGroupStrategy
    extends org.apache.spark.sql.execution.SparkStrategy {
  val MAX_STATE_ROWS_KEY = "spark.graft.topk.maxStateRows"
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(g, ord, k, child) =>
      val cap = SQLConf.get
        .getConfString(MAX_STATE_ROWS_KEY, (4 << 20).toString).toLong
      TopKPerGroupExec(g, ord, k, partial = false, cap,
        TopKPerGroupExec(g, ord, k, partial = true, cap,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    maxStateRows: Long,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  // final pass streams over (group, ordering)-sorted input — the sort
  // this requirement materializes runs on partial-reduced data and is
  // the operator's spill path
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(groupExprs.map(SortOrder(_, Ascending)) ++ ordering)
  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"

  override lazy val metrics: Map[String, SQLMetric] =
    if (!partial) Map.empty
    else Map(
      "peakStateRows" -> SQLMetrics.createMetric(sparkContext,
        "heap-state rows (sum of per-task peaks)"),
      "numStateFlushes" -> SQLMetrics.createMetric(sparkContext,
        "state-cap flushes"))

  override protected def doExecute(): RDD[InternalRow] =
    if (partial) doExecutePartial() else doExecuteFinal()

  /** Bounded k-heaps per group; flush-and-reset at `maxStateRows`. */
  private def doExecutePartial(): RDD[InternalRow] = {
    val groupE = groupExprs
    val orderE = ordering
    val out = output
    val kk = k
    val cap = math.max(maxStateRows, k.toLong) // always room for 1 group
    val peakMetric = metrics("peakStateRows")
    val flushMetric = metrics("numStateFlushes")
    child.execute().mapPartitionsInternal { iter =>
      val keyProj = UnsafeProjection.create(groupE, out)
      val ord = RowOrdering.create(orderE, out)
      // per group, a max-heap w.r.t. sort position: the root is the
      // WORST kept row, evicted when a better candidate arrives
      val worstFirst = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ord.compare(b, a)
      }
      var heaps = new java.util.LinkedHashMap[UnsafeRow,
        java.util.PriorityQueue[InternalRow]]()
      var stateRows = 0L
      var peak = 0L

      def drain(m: java.util.LinkedHashMap[UnsafeRow,
          java.util.PriorityQueue[InternalRow]]): Iterator[InternalRow] = {
        val groups = m.values().iterator()
        new Iterator[InternalRow] {
          private var current: Iterator[InternalRow] = Iterator.empty
          override def hasNext: Boolean = {
            while (!current.hasNext && groups.hasNext) {
              // sorted emission: deterministic runs either way; the
              // final pass re-sorts the reduced stream regardless
              val arr = groups.next().toArray(Array.empty[InternalRow])
              java.util.Arrays.sort(arr, ord)
              current = arr.iterator
            }
            current.hasNext
          }
          override def next(): InternalRow = current.next()
        }
      }

      new Iterator[Iterator[InternalRow]] {
        private var done = false
        override def hasNext: Boolean = !done && (iter.hasNext || {
          done = true
          peakMetric.add(peak)
          true // one last chunk: the residual state
        })
        override def next(): Iterator[InternalRow] = {
          if (done) return drain(heaps)
          var flushed: Iterator[InternalRow] = Iterator.empty
          while (iter.hasNext && flushed.isEmpty) {
            val row = iter.next()
            val key = keyProj(row)
            var heap = heaps.get(key)
            if (heap == null) {
              if (stateRows + kk > cap) {
                // cap trip: emit everything buffered, start fresh —
                // a pure reduction-strength tradeoff, never a
                // correctness one (the final pass re-merges)
                flushed = drain(heaps)
                flushMetric.add(1L)
                heaps = new java.util.LinkedHashMap[UnsafeRow,
                  java.util.PriorityQueue[InternalRow]]()
                stateRows = 0L
              }
              heap = new java.util.PriorityQueue[InternalRow](kk, worstFirst)
              heaps.put(key.copy(), heap)
            }
            if (heap.size() < kk) {
              heap.add(row.copy())
              stateRows += 1L
              if (stateRows > peak) peak = stateRows
              // The new-group check alone does NOT bound state: with
              // round-robin arrival ~cap/k groups are created at one
              // row each, then every heap fills toward k — up to
              // ~cap·k rows, k× the advertised bound. Enforce the cap
              // on EVERY growth path (the just-buffered row is inside
              // the flushed state, so nothing is lost).
              if (stateRows >= cap) {
                flushed = drain(heaps)
                flushMetric.add(1L)
                heaps = new java.util.LinkedHashMap[UnsafeRow,
                  java.util.PriorityQueue[InternalRow]]()
                stateRows = 0L
              }
            } else if (ord.compare(row, heap.peek()) < 0) {
              heap.poll()
              heap.add(row.copy())
            }
          }
          flushed
        }
      }.flatten
    }
  }

  /** Streaming first-k-per-group over (group, ordering)-sorted input:
    * O(k) state, group changes detected by key comparison. */
  private def doExecuteFinal(): RDD[InternalRow] = {
    val groupE = groupExprs
    val out = output
    val kk = k
    child.execute().mapPartitionsInternal { iter =>
      val keyProj = UnsafeProjection.create(groupE, out)
      var currentKey: UnsafeRow = null
      var emitted = 0
      iter.filter { row =>
        val key = keyProj(row)
        if (currentKey == null || key != currentKey) {
          currentKey = key.copy()
          emitted = 0
        }
        emitted += 1
        emitted <= kk
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPerGroupExec = copy(child = newChild)
}

object TopKPerGroup {
  /** `topKPerGroup(df, Seq($"g"), Seq($"v".desc, $"id"), k)` — rows of
    * `df` ranking in the first k of their group under `orderBy` (which
    * must totally order rows for a deterministic result). */
  def apply(df: DataFrame, groupCols: Seq[Column], orderBy: Seq[Column],
      k: Int): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    // EAGER Column→catalyst conversion (session.expression): the lazy
    // ExpressionUtils wrapper is a ColumnNode placeholder that a `.desc`
    // SortOrder must not be re-wrapped around — the session converter
    // returns a real catalyst SortOrder for sort columns.
    val groupExprs = groupCols.map(spark.expression)
    val sortOrders = orderBy.map(c => spark.expression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    Dataset.ofRows(spark,
      TopKPerGroupNode(groupExprs, sortOrders, k,
        df.queryExecution.analyzed))
  }
}
