package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities: skew salting and bucketed co-located joins — the
  * knobs a 100 TB deployment turns when AQE's automatic handling isn't
  * enough (SURVEY.md §4: skew handling / partitioned layout are layout
  * decisions for this engine, absent in the reference).
  */
object Scale {

  /** Widen a NARROW input before expensive per-row work (tokenize /
    * shingle / hash / decode chains): the local lake ships one
    * single-row-group parquet file per table, so a scan is ONE
    * partition and everything until the first exchange runs
    * single-threaded on a 32-core session — `maxPartitionBytes` can't
    * help, because a parquet reader only parallelizes across row
    * groups. SCALE-ADAPTIVE, not a local constant: a no-op whenever
    * the input already carries at least half the session's default
    * parallelism (any production multi-file scan), and a round-robin
    * exchange of the raw input rows — a few MB here — only when the
    * scan is genuinely narrower than the machine. Callers must be
    * row-order-independent (aggregates / joins / per-row projections
    * under a final sort), the contract every consumer in this engine
    * already honors. */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }

  /** Two-phase salted aggregation for heavily-skewed group keys: phase 1
    * aggregates on (key, salt) — spreading one hot key over `saltBuckets`
    * reducers — phase 2 merges the partials per key. Only ever needed
    * for algebraic aggregates (sum/count/min/max); AQE skew-join
    * handling covers the join side automatically.
    */
  def saltedSum(df: DataFrame, key: String, valueCol: String,
      saltBuckets: Int = 16): DataFrame = {
    // spark_partition_id is deterministic per row *placement*, not per
    // row value — for a value-deterministic salt use a hash of other
    // columns; for pure load-spreading a random salt would do but
    // breaks retry determinism, so hash the value column instead.
    val salted = df.withColumn("__salt",
      pmod(hash(col(valueCol)), lit(saltBuckets)))
    salted.groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__partial"),
        count(lit(1)).as("__pcount"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(s"${valueCol}_sum"),
        sum(col("__pcount")).as("n"))
  }

  /** Exact interpolated percentiles per group, computed with a
    * DISTRIBUTED sort instead of Spark's builtin `percentile`, whose
    * ObjectHashAggregate buffers every value of a group in one
    * in-memory array (both slow — no codegen, per-row boxing — and
    * OOM-bound at scale). This form ranks values with a spillable
    * window sort, keeps only the two neighbors each percentile
    * interpolates between, and reduces them with an algebraic sum:
    * same values, streaming memory. Parallelism is bounded by group
    * count (each group sorts on one task) — for percentiles over few
    * or no groups at extreme scale, `approx_percentile`'s mergeable
    * sketch is the intended fallback.
    *
    * Interpolation matches `percentile` / DuckDB `quantile_cont`:
    * `v[floor(i)] + (v[ceil(i)] - v[floor(i)]) * (i - floor(i))` at
    * continuous index `i = p * (n-1)`.
    *
    * NULL handling also matches the aggregates this replaces: NULL
    * values are excluded before ranking (they would otherwise take
    * nulls-first ranks and inflate the window count, shifting every
    * percentile), and a group whose values are ALL NULL still appears
    * in the output with NULL percentiles.
    */
  def exactPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGroup = Window.partitionBy(col(groupCol))
    val ranked = df.select(col(groupCol), col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__rn",
        row_number().over(byGroup.orderBy(col("__v"))).cast("double") - 1)
      .withColumn("__n", count(lit(1)).over(byGroup))
    val aggs = ps.map { case (name, p) =>
      val i = lit(p) * (col("__n") - 1).cast("double")
      val lo = floor(i)
      val frac = i - lo
      // a row contributes iff it is the lower or upper neighbor; when
      // i lands exactly on a rank the row is both and contributes fully
      sum(when(col("__rn") === lo && frac === 0.0, col("__v"))
        .when(col("__rn") === lo, col("__v") * (lit(1.0) - frac))
        .when(col("__rn") === lo + 1, col("__v") * frac))
        .as(name)
    }
    val agged = ranked.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    // restore all-NULL groups (dropped by the filter) with NULL results,
    // as percentile()/quantile_cont would return for them; the restore
    // join must be null-safe — a NULL group KEY with real values is a
    // legitimate group (groupBy keeps it) and an equality join would
    // never match it back
    val keys = df.select(col(groupCol)).distinct()
    keys.join(agged, keys(groupCol) <=> agged(groupCol), "left")
      .select(keys(groupCol) +: ps.map { case (name, _) => agged(name) }: _*)
  }

  /** EXACT global (ungrouped) quantiles without a global sort — the
    * scale path where `exactPercentiles` degenerates (one group = one
    * task sorting the whole column). Four scan-shaped jobs, no
    * full-data shuffle:
    *
    *   0. one count (sizes the probe slack);
    *   1. one aggregate: a t-digest-style sketch (`approx_percentile`,
    *      rank error ≤ n/accuracy) probed at p ± max(2/accuracy, 3/n)
    *      → a value bracket guaranteed to contain the target rank;
    *   2. one aggregate: exact `count(v < lo_p)` for every bracket;
    *   3. rank only the rows INSIDE the brackets (≈ 4n/accuracy rows
    *      per quantile, ~0.04% at the default) and pick the two
    *      neighbors each quantile interpolates between.
    *
    * At 100 TB that is four columnar scans and a sort of a few
    * hundred-thousandths of the data, vs. shuffling and sorting all of
    * it. Interpolation matches `percentile` / DuckDB `quantile_cont`
    * (continuous index `i = p·(n-1)`). Driver traffic is scalars only
    * (count, bracket bounds, neighbor values).
    */
  /** WEIGHTED per-group quantiles — each row counts `weightCol` times
    * (the weighted median of unit price by quantity answers "what does
    * the typical UNIT sell at", where the unweighted median answers
    * "what does the typical line-item row say" — different statistics
    * whenever weight correlates with value). Lower weighted-quantile
    * convention: the smallest value whose cumulative weight reaches
    * q·total. One keyed exchange serves the cumulative AND total
    * windows plus the final aggregate; with integer-valued double
    * weights the running sums are exact in binary, so the q·total
    * threshold compare is engine-independent (no interpolation, no
    * float-association hazard). */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, qs: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty, "need at least one quantile")
    val byGroup = Window.partitionBy(col(groupCol))
    val cum = byGroup.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = df
      .select(col(groupCol), col(valueCol).cast("double").as("__v"),
        col(weightCol).cast("double").as("__w"))
      .filter(col("__v").isNotNull && col("__w").isNotNull)
      .withColumn("__cumw", sum(col("__w")).over(cum))
      .withColumn("__totw", sum(col("__w")).over(byGroup))
    val aggs = qs.map { case (name, q) =>
      min(when(col("__cumw") >= lit(q) * col("__totw"), col("__v"))).as(name)
    }
    c.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  def exactGlobalQuantiles(df: DataFrame, valueCol: String,
      ps: Seq[(String, Double)], accuracy: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    // job 0: count — needed to size the probe slack: the sketch's rank
    // error is n/accuracy, but its index convention can also differ
    // from the continuous p·(n−1) by up to one element, so the probe
    // offset must cover BOTH: max(2/accuracy, 3/n) guarantees the
    // bracket spans the interpolation neighbors at any n
    val n = df.agg(count(v)).collect()(0).getLong(0)
    require(n > 0, s"exactGlobalQuantiles: no non-null $valueCol values")
    val eps = math.max(2.0 / accuracy, 3.0 / n)
    val probes = ps.flatMap { case (_, p) =>
      Seq(math.max(0.0, p - eps), math.min(1.0, p + eps)) }
    // job 1: bracket sketch
    val head = df.agg(
      expr(s"approx_percentile(cast(`$valueCol` as double), " +
        s"array(${probes.mkString(",")}), $accuracy)").as("brackets"))
      .collect()(0)
    val bounds = head.getSeq[Double](0)
    val brackets = ps.indices.map(i => (bounds(2 * i), bounds(2 * i + 1)))
    // job 2: exact rank of each bracket's lower bound, one pass
    val belowAggs = brackets.zipWithIndex.map { case ((lo, _), i) =>
      sum(when(v < lo, 1L).otherwise(0L)).as(s"below_$i") }
    val belowRow = df.agg(belowAggs.head, belowAggs.tail: _*).collect()(0)
    // job 3, ONE pass for all quantiles: tag each row with every bracket
    // it falls in, rank per tag (each partition = one tiny bracket), and
    // keep only each quantile's two interpolation neighbors
    val perP = ps.zipWithIndex.map { case ((name, p), i) =>
      val below = if (belowRow.isNullAt(i)) 0L else belowRow.getLong(i)
      val idx = p * (n - 1) // continuous index over the sorted column
      (name, i, idx, math.floor(idx).toLong - below,
        math.ceil(idx).toLong - below)
    }
    val tagExprs = brackets.zipWithIndex.map { case ((lo, hi), i) =>
      when(v >= lo && v <= hi, lit(i)) }
    val byTag = Window.partitionBy(col("__tag")).orderBy(col("__v"))
    val wanted = perP.map { case (_, i, _, a, b) =>
      col("__tag") === i && (col("__rk") === a || col("__rk") === b)
    }.reduce(_ || _)
    val picked = df
      .select(v.as("__v"), explode(array(tagExprs: _*)).as("__tag"))
      .filter(col("__tag").isNotNull)
      .withColumn("__rk", row_number().over(byTag).cast("long") - 1)
      .filter(wanted)
      .collect()
      .groupBy(_.getInt(1))
      .view.mapValues(_.map(r => r.getLong(2) -> r.getDouble(0)).toMap).toMap
    val results = perP.map { case (name, i, idx, a, b) =>
      val neighbors = picked.getOrElse(i, Map.empty[Long, Double])
      require(neighbors.contains(a) && neighbors.contains(b),
        s"sketch bracket ${brackets(i)} missed rank for $name — " +
          "raise accuracy")
      val vLo = neighbors(a)
      val vHi = neighbors(b)
      name -> (vLo + (vHi - vLo) * (idx - math.floor(idx)))
    }
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(results.map(_._2): _*)),
      org.apache.spark.sql.types.StructType(results.map { case (name, _) =>
        org.apache.spark.sql.types.StructField(name,
          org.apache.spark.sql.types.DoubleType, nullable = false) }))
  }

  /** Grouped form of [[exactGlobalQuantiles]] — exact per-group
    * quantiles with NO per-group sort of the data. `exactPercentiles`
    * is exact and spillable but sorts each group on one task; this
    * variant keeps the scan-shaped jobs of the global form, with
    * per-group sketches (one mergeable partial aggregate), per-group
    * exact below-counts (one aggregate over a broadcast bounds join),
    * and one ranking pass over only the bracket rows — per-group work
    * no longer scales with group size, only with n/accuracy.
    *
    * Driver state is Θ(groups × quantiles) scalars — same order as the
    * result itself. For group cardinalities where that's a problem,
    * the window form (or a sketch) is the right tool; this is the
    * few-huge-groups path, which is exactly where the window form
    * serializes. Output schema and NULL semantics match
    * [[exactPercentiles]] (all-NULL groups surface with NULL values).
    */
  def exactPercentilesBracket(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[(String, Double)],
      accuracy: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val v = col(valueCol).cast("double")
    val gField = df.schema(groupCol)

    // job 0: per-group counts — each group's probe slack must cover
    // the sketch rank error AND its index-convention offset (see
    // exactGlobalQuantiles): eps_g = max(2/accuracy, 3/n_g)
    val countRows = df.groupBy(col(groupCol)).agg(count(v).as("__n"))
      .collect()
    val emptyGroups = countRows.filter(_.getLong(1) == 0L).map(_.get(0))
    val liveGroups = countRows.filter(_.getLong(1) > 0L)
      .map(r => r.get(0) -> r.getLong(1))
    // one shared probe array: group g's probes live at offset g·2P —
    // each group's sketch evaluates all of them, G·2P quantile
    // extracts per group, trivial for the modest group cardinalities
    // this path targets
    val probes = liveGroups.flatMap { case (_, n) =>
      val eps = math.max(2.0 / accuracy, 3.0 / n)
      ps.flatMap { case (_, p) =>
        Seq(math.max(0.0, p - eps), math.min(1.0, p + eps)) }
    }
    val groupIdx = liveGroups.map(_._1).zipWithIndex.toMap

    // job 1: per-group bracket sketch, one partial+final aggregate
    // (the sketch is mergeable)
    val head =
      if (liveGroups.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else df.groupBy(col(groupCol)).agg(
        expr(s"approx_percentile(cast(`$valueCol` as double), " +
          s"array(${probes.mkString(",")}), $accuracy)").as("__b"))
        .collect()
    val liveN = liveGroups.toMap
    val infos = head.filter(r => groupIdx.contains(r.get(0))).map { r =>
      val off = groupIdx(r.get(0)) * 2 * ps.length
      val b = r.getSeq[Double](1)
      (r.get(0), liveN(r.get(0)),
        ps.indices.map(i => b(off + 2 * i)).toArray,
        ps.indices.map(i => b(off + 2 * i + 1)).toArray)
    }
    if (infos.isEmpty) {
      val schema = StructType(gField +:
        ps.map { case (n, _) => StructField(n, DoubleType) })
      import scala.jdk.CollectionConverters._
      return spark.createDataFrame(
        emptyGroups.map(g => SRow.fromSeq(
          g +: ps.map(_ => null))).toSeq.asJava, schema)
    }

    // bounds join table: group → lo_i / hi_i literals (broadcast). The
    // key is renamed so the join can be NULL-SAFE (`<=>`): a NULL group
    // key is a real group here (job 0/1 registered it in liveGroups),
    // and a plain equi-join would drop its rows, leaving `below(g)`
    // without an entry and crashing the result assembly
    val boundsSchema = StructType(gField.copy(name = "__gb") +:
      ps.indices.flatMap(i => Seq(StructField(s"__lo_$i", DoubleType),
        StructField(s"__hi_$i", DoubleType))))
    val boundsRows = infos.map { case (g, _, lo, hi) =>
      SRow.fromSeq(g +: ps.indices.flatMap(i =>
        Seq(lo(i): java.lang.Double, hi(i): java.lang.Double)))
    }
    import scala.jdk.CollectionConverters._
    val bounds = broadcast(spark.createDataFrame(
      boundsRows.toSeq.asJava, boundsSchema))
    val withB = df.join(bounds, col(groupCol) <=> col("__gb")).drop("__gb")

    // job 2: exact rank of each bracket's lower bound, per group
    val belowAggs = ps.indices.map(i =>
      sum(when(v < col(s"__lo_$i"), 1L).otherwise(0L)).as(s"__below_$i"))
    val below = withB.groupBy(col(groupCol))
      .agg(belowAggs.head, belowAggs.tail: _*)
      .collect()
      .map(r => r.get(0) -> ps.indices.map(i =>
        if (r.isNullAt(i + 1)) 0L else r.getLong(i + 1)).toArray)
      .toMap

    // in-bracket target ranks per (group, quantile)
    val targetSchema = StructType(Seq(gField.copy(name = "__g"),
      StructField("__t_tag", IntegerType), StructField("__t_rk", LongType)))
    val targets = infos.flatMap { case (g, n, _, _) =>
      ps.zipWithIndex.flatMap { case ((_, p), i) =>
        val idx = p * (n - 1)
        val b = below(g)(i)
        Seq(math.floor(idx).toLong - b, math.ceil(idx).toLong - b)
          .distinct.map(rk => SRow(g, i, rk))
      }
    }
    val targetsDf = broadcast(spark.createDataFrame(
      targets.toSeq.asJava, targetSchema))

    // job 3: rank only bracket rows, keep the interpolation neighbors
    val tagExprs = ps.indices.map(i =>
      when(v >= col(s"__lo_$i") && v <= col(s"__hi_$i"), lit(i)))
    val byTag = Window.partitionBy(col(groupCol), col("__tag"))
      .orderBy(col("__v"))
    val picked = withB
      .select(col(groupCol), v.as("__v"),
        explode(array(tagExprs: _*)).as("__tag"))
      .filter(col("__tag").isNotNull)
      .withColumn("__rk", row_number().over(byTag).cast("long") - 1)
      .join(targetsDf,
        col(groupCol) <=> col("__g") && col("__tag") === col("__t_tag")
          && col("__rk") === col("__t_rk"))
      .select(col(groupCol), col("__tag"), col("__rk"), col("__v"))
      .collect()
      .groupBy(_.get(0))
      .view.mapValues(_.map(r =>
        (r.getInt(1), r.getLong(2)) -> r.getDouble(3)).toMap).toMap

    val out = infos.map { case (g, n, lo, hi) =>
      val vals = ps.zipWithIndex.map { case ((name, p), i) =>
        val idx = p * (n - 1)
        val b = below(g)(i)
        val kLo = math.floor(idx).toLong - b
        val kHi = math.ceil(idx).toLong - b
        val neighbors = picked.getOrElse(g, Map.empty[(Int, Long), Double])
        require(neighbors.contains((i, kLo)) && neighbors.contains((i, kHi)),
          s"sketch bracket [${lo(i)},${hi(i)}] missed rank for $name in " +
            s"group $g — raise accuracy")
        val vLo = neighbors((i, kLo))
        val vHi = neighbors((i, kHi))
        vLo + (vHi - vLo) * (idx - math.floor(idx))
      }
      SRow.fromSeq(g +: vals.map(x => x: java.lang.Double))
    } ++ emptyGroups.map(g => SRow.fromSeq(g +: ps.map(_ => null)))
    val outSchema = StructType(gField +:
      ps.map { case (n, _) => StructField(n, DoubleType) })
    spark.createDataFrame(out.toSeq.asJava, outSchema)
  }

  /** Auto-dispatching grouped exact percentiles — callers should not
    * have to know which regime they are in, so this entry point
    * measures it: one cheap aggregate (group count + row count, a
    * partial+final scan) and then
    *
    *  - FEW, HUGE groups (≤ `bracketMaxGroups` groups AND ≥
    *    `bracketMinAvgRows` rows/group): [[exactPercentilesBracket]] —
    *    scan-shaped jobs, no per-group sort; the window form would
    *    serialize each giant group onto one task.
    *  - otherwise: [[exactPercentiles]] — the spillable window form,
    *    whose parallelism IS the group count and whose driver state is
    *    zero; the bracket form's Θ(groups×quantiles) driver scalars
    *    and per-group probe arrays stop paying once groups are many
    *    and small.
    *
    * The default crossover (4M rows/group) is where a single-task sort
    * of one group stops being comfortable; both forms return identical
    * values and schema (ScaleSpec pins the two regimes against each
    * other), so the dispatch changes only the plan. */
  def groupedPercentiles(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[(String, Double)], bracketMaxGroups: Long = 1000,
      bracketMinAvgRows: Long = 1L << 22,
      accuracy: Int = 10000): DataFrame = {
    val stats = df.agg(
      countDistinct(col(groupCol)).as("g"),
      count(col(valueCol).cast("double")).as("n")).first()
    val groups = math.max(1L, stats.getLong(0))
    val avgRows = stats.getLong(1) / groups
    if (groups <= bracketMaxGroups && avgRows >= bracketMinAvgRows)
      exactPercentilesBracket(df, groupCol, valueCol, ps, accuracy)
    else exactPercentiles(df, groupCol, valueCol, ps)
  }

  /** Salted replicated join for a fact table whose join key is heavily
    * skewed: the fact side gets a deterministic per-row salt in
    * [0, saltBuckets) (hashed from the full row, so retries and the
    * oracle see the same assignment), the dimension side is replicated
    * once per salt value, and the equi-join runs on (key, salt) —
    * spreading a hot key's rows over `saltBuckets` tasks instead of one
    * straggler. Replication multiplies the dim by `saltBuckets`, so the
    * dim side must be the small side (it usually also stays under the
    * broadcast threshold, making this a skew-proof broadcast join).
    * Result equals the plain equi-join exactly; `__salt` never escapes.
    *
    * AQE's skew-join splitting covers sort-merge joins automatically;
    * this explicit form is for when the skewed side feeds a downstream
    * per-key aggregation in the same stage, or when running without AQE.
    *
    * Join types are restricted to fact-preserving ones (inner / left /
    * left_semi / left_anti): under right or full outer join, a dim row
    * whose key has no fact match would survive once per salt bucket
    * (the dim is replicated `saltBuckets` times), duplicating unmatched
    * dimension rows. For those shapes, salt the other side or rely on
    * AQE skew handling.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int = 16, joinType: String = "inner"): DataFrame = {
    require(!fact.columns.contains("__salt") && !dim.columns.contains("__salt"),
      "column __salt is reserved")
    val jt = joinType.toLowerCase.replaceAll("[_ ]", "")
    require(Set("inner", "left", "leftouter", "semi", "leftsemi",
        "anti", "leftanti").contains(jt),
      s"saltedJoin supports inner/left/left_semi/left_anti only (got " +
        s"'$joinType'): replicated dim rows would duplicate unmatched " +
        "dimension output under right/full outer")
    val saltedFact = fact.withColumn("__salt",
      pmod(hash(fact.columns.map(col): _*), lit(saltBuckets)))
    val repDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedFact.join(repDim, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Two-phase per-group top-k for LOW-CARDINALITY group keys. Spark's
    * own `WindowGroupLimit` already pushes a partial top-k below the
    * exchange for `row_number ≤ k` plans, so the single-window form
    * ships only k rows per (input partition, group); what it canNOT fix
    * is the final ranking, which concentrates k × (partition count)
    * rows onto one task per group — a function of scan width, 100k+
    * partitions at 100 TB. Here phase 1 ranks within (group, salt) —
    * emitting at most k survivors per bucket — and phase 2 re-ranks
    * ≤ k·saltBuckets rows per group, a bound INDEPENDENT of the scan's
    * partition count. Any row in the true global top-k is in its
    * bucket's top-k (rank within a subset can only shrink), so the
    * result is exactly the single-window answer; with a total order
    * (tie-broken `orderCols`) it is also deterministic regardless of
    * salt assignment.
    *
    * The salt hashes the FULL ROW (every input column), not a random:
    * retries and oracle comparisons see the same bucketing, and rows
    * identical on the order columns but differing elsewhere may land in
    * different buckets — harmless, since every bucket keeps its own
    * top-k. Output = input columns + `rank`.
    */
  /** Distributed GLOBAL prefix sum — the scalable form of
    * `sum(v) OVER (ORDER BY …)`. A bare global ordered window funnels
    * the ENTIRE table through ONE task (Spark plans it as a
    * single-partition Window — the canonical 100 TB scale killer,
    * and exactly what `graft.PlanGate` flags); this is the classic
    * two-phase scan instead:
    *
    *   1. `repartitionByRange` on the order columns — every partition
    *      holds a contiguous key range, partitions are mutually
    *      ordered, and each sorts/sums LOCALLY in parallel;
    *   2. per-partition totals (one tiny aggregate, ≤ numPartitions
    *      rows) cumulate into per-partition OFFSETS — the only
    *      global window in the plan runs over that bounded frame —
    *      and re-enter via broadcast join;
    *   3. global running sum = local running sum + partition offset.
    *
    * Correct for ANY range-boundary placement (the window orders
    * within partitions; ranges are ordered across them), so range
    * sampling cannot affect values; `orderCols` must be a TOTAL order
    * (tie-break with a key) for the per-row result to be well-defined
    * at all — same contract as any ordered window. Inclusive frame,
    * matching `RANGE UNBOUNDED PRECEDING` with distinct keys.
    *
    * The partitioned frame is MATERIALIZED ONCE (eager localCheckpoint)
    * before fan-out: the offsets aggregate and the per-row join both
    * read it, and two independent physical evaluations of
    * `repartitionByRange` can sample DIFFERENT boundaries
    * (RangePartitioner's reservoir seed varies per evaluation once
    * partitions outgrow the sample size), silently desynchronizing
    * `spark_partition_id` between the two subtrees — exchange reuse
    * does NOT save us because the nondeterministic
    * `spark_partition_id` projection defeats plan canonicalization.
    * localCheckpoint (not persist) because its blocks are released by
    * the ContextCleaner when the frame goes unreferenced; a persist()
    * would leak one CacheManager entry per call until someone
    * unpersists. */
  def prefixSum(df: DataFrame, orderCols: Seq[Column], valueCol: String,
      sumCol: String = "cum_sum", numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(orderCols.nonEmpty, "need at least one order column")
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = df.repartitionByRange(n, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    // materialize ONCE via eager localCheckpoint, not persist(): it
    // pins the sampled range boundaries identically (both consumers
    // read stored blocks, never a fresh sampling), truncates lineage,
    // and its blocks are released by the ContextCleaner as soon as the
    // frame is unreferenced — a persist() here would sit in the
    // CacheManager FOREVER unless every caller remembered to unpersist,
    // leaking one cached frame per library call
    val local = parted
      .withColumn("__local", sum(col(valueCol)).over(wLocal))
      .transform(graft.plans.Pin(_).df)
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__psum"))
      .select(col("__pid").as("__opid"),
        coalesce(sum(col("__psum")).over(wOff), lit(0)).as("__off"))
    local.join(broadcast(offsets), col("__pid") === col("__opid"))
      .withColumn(sumCol, col("__local") + col("__off"))
      .drop("__pid", "__opid", "__local", "__off")
  }

  /** Distributed GLOBAL rank + running sum in ONE range shuffle — the
    * scalable form of the common pair `row_number() OVER (ORDER BY …)`
    * + `sum(v) OVER (ORDER BY …)` (frequency-rank / coverage-curve
    * shape). Same two-phase scan as [[prefixSum]]; the per-partition
    * offset aggregate carries BOTH the row-count and value-sum
    * prefixes, so adding the rank costs nothing over the sum alone.
    * `orderCols` must be a TOTAL order. Output = input + `rankCol`
    * (1-based global rank, long) + `sumCol` (inclusive running sum).
    * Materialize-once-before-fan-out per [[prefixSum]]'s boundary-pinning note. */
  def rankedPrefixSum(df: DataFrame, orderCols: Seq[Column],
      valueCol: String, rankCol: String = "rank",
      sumCol: String = "cum_sum", numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(orderCols.nonEmpty, "need at least one order column")
    val np = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = df.repartitionByRange(np, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    val local = parted
      .withColumn("__lrk", row_number().over(wLocal).cast("long"))
      .withColumn("__lsum", sum(col(valueCol)).over(
        wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .transform(graft.plans.Pin(_).df) // boundary pin + auto-cleaned, per prefixSum
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pn"), sum(col(valueCol)).as("__psum"))
      .select(col("__pid").as("__opid"),
        coalesce(sum(col("__pn")).over(wOff), lit(0L)).as("__rkoff"),
        coalesce(sum(col("__psum")).over(wOff), lit(0)).as("__sumoff"))
    local.join(broadcast(offsets), col("__pid") === col("__opid"))
      .withColumn(rankCol, col("__lrk") + col("__rkoff"))
      .withColumn(sumCol, col("__lsum") + col("__sumoff"))
      .drop("__pid", "__opid", "__lrk", "__lsum", "__rkoff", "__sumoff")
  }

  /** Distributed GLOBAL ntile — the scalable form of
    * `ntile(b) OVER (ORDER BY …)`, same two-phase scan as
    * [[prefixSum]]: range-partition on the order columns, rank
    * locally, lift to a global rank with broadcast per-partition
    * offsets, then assign the bucket ARITHMETICALLY from
    * (rank, total): with q = ⌊n/b⌋ and r = n mod b, the first r
    * buckets hold q+1 rows — exactly the SQL-standard ntile split
    * both Spark and DuckDB implement, so the result is
    * bit-identical to the single-partition window. The only
    * unpartitioned windows left run over the ≤ numPartitions
    * offset rows. `orderCols` must be a TOTAL order (tie-break
    * with a key) — same contract as ntile itself for a
    * deterministic answer. Materialize-once-before-fan-out per
    * [[prefixSum]]'s boundary-pinning note. */
  def globalNtile(df: DataFrame, orderCols: Seq[Column], buckets: Int,
      bucketCol: String, numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(orderCols.nonEmpty, "need at least one order column")
    val np = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = df.repartitionByRange(np, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
    val local = parted
      .withColumn("__local", row_number().over(wLocal).cast("long"))
      .transform(graft.plans.Pin(_).df) // boundary pin + auto-cleaned, per prefixSum
    // one tiny aggregate carries BOTH the exclusive prefix (rank
    // offset) and the grand total — no separate count job over df
    val wOff = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = local.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pn"))
      .select(col("__pid").as("__opid"),
        coalesce(sum(col("__pn")).over(wOff), lit(0L)).as("__off"),
        sum(col("__pn")).over(wAll).as("__n"))
    val rn = col("__off") + col("__local") // 1-based global rank
    val n = col("__n")
    val q = floor(n / buckets).cast("long")
    val r = n % buckets
    val cut = r * (q + lit(1L)) // rows covered by the q+1-sized buckets
    // CaseWhen evaluates lazily, so the q=0 division never fires when
    // every row sits under `cut` (n < buckets ⇒ cut = n)
    val bucket = when(rn <= cut,
        floor((rn - 1) / (q + lit(1L))).cast("long") + lit(1L))
      .otherwise(r + floor((rn - cut - 1) / q).cast("long") + lit(1L))
    local.join(broadcast(offsets), col("__pid") === col("__opid"))
      .withColumn(bucketCol, bucket)
      .drop("__pid", "__opid", "__local", "__off", "__n")
  }

  def groupedTopK(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column], k: Int, saltBuckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains("__salt") && !df.columns.contains("__rk"),
      "columns __salt/__rk are reserved")
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.map(col): _*), lit(saltBuckets)))
    val local = Window
      .partitionBy((groupCols.map(col) :+ col("__salt")): _*)
      .orderBy(orderCols: _*)
    val survivors = salted
      .withColumn("__rk", row_number().over(local))
      .filter(col("__rk") <= k)
      .drop("__salt", "__rk")
    val global = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols: _*)
    survivors.withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
  }

  /** Skew diagnostic — the measurement behind the salting knobs: the
    * hottest `topK` keys with absolute counts and corpus share. Run it
    * BEFORE choosing saltBuckets (a key at 20% share over 1000 tasks
    * needs ~200 buckets to flatten; one at 0.1% needs none). One
    * partial+final aggregate and a driver-trivial top-k — safe to run
    * on the full 100 TB input. */
  def skewReport(df: DataFrame, key: String, topK: Int = 10): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
    counts
      .orderBy(col("n").desc, col(key).asc)
      .limit(topK)
      .crossJoin(broadcast(df.agg(count(lit(1)).as("__total"))))
      .select(col(key), col("n"),
        round(col("n") / col("__total"), 6).as("share"))
  }

  /** Write a table bucketed (and sorted) by the join key — see
    * [[graft.sinks.Bucketing]], the full layout API. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    graft.sinks.Bucketing.writeBucketed(df, table, key, buckets,
      sortCols = Seq(key))

  /** Join two same-bucketed catalog tables on their bucket key. With
    * matching bucket counts the plan is a SortMergeJoin with NO
    * Exchange on either side. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
      key: String, joinType: String = "inner"): DataFrame =
    graft.sinks.Bucketing.bucketedJoin(spark, left, right, key, joinType)
}
