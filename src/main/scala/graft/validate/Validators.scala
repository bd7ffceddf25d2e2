package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.{Failure, Success, Try}

import graft.functions.scalars._
import graft.transform.FieldRule

/** Dataset-level validators (SURVEY.md §2.9 V1–V5).
  *
  * The reference's validators iterate `List[Dict]` in driver memory and
  * build per-record error strings (`data_validators.py`). At 100 TB the
  * distributed shape is: (a) one aggregate pass computing violation
  * *counts* per rule → a small [[ValidationReport]] on the driver, and
  * (b) an optional `flag` form that attaches per-row error arrays for
  * pipelines that filter on validity — never collecting rows.
  */
case class ValidationReport(
    isValid: Boolean,
    errors: Seq[String],
    warnings: Seq[String],
    metrics: Map[String, Any])

trait Validator {
  def name: String
  def validate(df: DataFrame): ValidationReport
}

/** A validator whose report is a function of one row of aggregates over
  * the frame. [[ValidationPipeline]] evaluates every such validator's
  * aggregates in ONE pass; standalone, `validate` is one pass over this
  * validator's own plan. */
trait AggregateValidator extends Validator {
  def plan(df: DataFrame): AggregateValidator.Plan

  def validate(df: DataFrame): ValidationReport = {
    val p = plan(df)
    p.report(AggregateValidator.evaluate(df, Seq(p)).head)
  }
}

object AggregateValidator {

  /** `aggs` to evaluate over the frame, and the report built from their
    * values (in `aggs` order; NULL for an aggregate over no rows). */
  final case class Plan(aggs: Seq[Column],
      report: IndexedSeq[Any] => ValidationReport)

  /** Every plan's aggregates in a single `df.agg(...).head()`, sliced
    * back per plan. Plans without aggregates launch no job. */
  def evaluate(df: DataFrame, plans: Seq[Plan]): Seq[IndexedSeq[Any]] = {
    val aggs = plans.flatMap(_.aggs)
    val row: IndexedSeq[Any] =
      if (aggs.isEmpty) IndexedSeq.empty
      else df.agg(aggs.head, aggs.tail: _*).head().toSeq.toIndexedSeq
    val ends = plans.scanLeft(0)(_ + _.aggs.size)
    ends.zip(ends.tail).map { case (a, b) => row.slice(a, b) }
  }

  /** A count aggregate's value; a sum over no rows is NULL, i.e. 0. */
  private[validate] def long(v: Any): Long =
    if (v == null) 0L else v.asInstanceOf[Long]

  /** Violation count of predicate `p`. */
  private[validate] def violations(p: Column): Column =
    sum(when(p, 1L).otherwise(0L))
}

/** V2 schema validation (`data_validators.py:56-133`): required fields,
  * type checks (string/integer/float/boolean/datetime/email), numeric
  * ranges, string length ranges. One count plus one violation count per
  * rule. */
case class SchemaValidator(schema: Map[String, FieldRule])
    extends AggregateValidator {
  val name = "Schema Validator"

  /** One-row DataFrame of per-rule violation counts — the distributed
    * form of the reference's error list, usable as a judged query. */
  def violationCountsDF(df: DataFrame): DataFrame = {
    val preds = rulePreds(df)
    val aggs = count(lit(1)).as("total_records") +:
      preds.map { case (msg, p) =>
        AggregateValidator.violations(p).as(keyOf(msg)) }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Stable column key for a violation message. */
  private def keyOf(msg: String): String =
    "viol_" + msg.replaceAll("[^A-Za-z0-9]+", "_").replaceAll("_+$", "")

  /** Per-rule violation predicates for columns present in `df`;
    * missing required columns are reported dataset-level. */
  private def rulePreds(df: DataFrame): Seq[(String, Column)] = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    schema.toSeq.sortBy(_._1).flatMap { case (f, r) =>
      types.get(f) match {
        case None => Nil
        case Some(dt) =>
          val c = col(f)
          val typeViol: Seq[(String, Column)] = r.typ.toSeq.flatMap {
            case "email" => Seq(s"$f not a valid email" ->
              (c.isNotNull && !isEmail(c.cast(StringType))))
            case "datetime" | "date" => dt match {
              case _: TimestampType | _: DateType => Nil // schema guarantees
              case _ => Seq(s"$f not a valid datetime" ->
                (c.isNotNull && !isIsoDate(c.cast(StringType))))
            }
            case "string" => if (dt == StringType) Nil
              else Seq(s"$f expected string" -> c.isNotNull)
            case "integer" => dt match {
              case _: IntegerType | _: LongType | _: ShortType | _: ByteType => Nil
              case _ => Seq(s"$f expected integer" -> c.isNotNull)
            }
            case "float" => dt match {
              case _: NumericType => Nil
              case _ => Seq(s"$f expected float" -> c.isNotNull)
            }
            case "boolean" => if (dt == BooleanType) Nil
              else Seq(s"$f expected boolean" -> c.isNotNull)
            case _ => Nil
          }
          val rangeViol: Seq[(String, Column)] = dt match {
            case _: NumericType =>
              r.min.toSeq.map(m => s"$f below minimum ${FieldRule.num(m)}" ->
                (c.isNotNull && c < m)) ++
              r.max.toSeq.map(m => s"$f above maximum ${FieldRule.num(m)}" ->
                (c.isNotNull && c > m))
            case _ => Nil
          }
          val lenViol: Seq[(String, Column)] = dt match {
            case StringType =>
              r.minLength.toSeq.map(m => s"$f length below minimum $m" ->
                (c.isNotNull && length(c) < m)) ++
              r.maxLength.toSeq.map(m => s"$f length above maximum $m" ->
                (c.isNotNull && length(c) > m))
            case _ => Nil
          }
          val reqViol: Seq[(String, Column)] =
            if (!r.required) Nil
            else {
              val empty = if (dt == StringType) c.isNull || c === "" else c.isNull
              Seq(s"$f missing or empty" -> empty)
            }
          reqViol ++ typeViol ++ rangeViol ++ lenViol
      }
    }
  }

  def plan(df: DataFrame): AggregateValidator.Plan = {
    import AggregateValidator._
    val missing = schema.keys.filterNot(df.columns.contains).toSeq.sorted
      .map(f => s"Missing required field '$f'")
    val preds = rulePreds(df)
    Plan(count(lit(1)) +: preds.map { case (_, p) => violations(p) }, v => {
      val errors = missing ++ preds.map(_._1).zip(v.tail.map(long)).collect {
        case (msg, n) if n > 0 => s"$msg: $n records"
      }
      ValidationReport(errors.isEmpty, errors, Nil,
        Map("total_records" -> long(v.head), "validation_errors" -> errors.size))
    })
  }
}

/** V3 data-quality validation (`data_validators.py:135-193`): min-records
  * error; null-percentage, full-row duplicate-percentage and
  * zero-variance warnings; metrics incl. dtype map. One wide aggregate,
  * whose full-row distinct count adds a shuffle; an empty frame is
  * recognised from its row count. */
case class QualityValidator(
    maxNullPercentage: Double = 0.1,
    maxDuplicatePercentage: Double = 0.05,
    minRecords: Long = 1L) extends AggregateValidator {
  val name = "Data Quality Validator"

  /** One-row DataFrame of the quality metrics (total, distinct, dup
    * count, per-column null counts, zero-variance flags) — the judged
    * query form of the metrics map. */
  def metricsDF(df: DataFrame): DataFrame = {
    val cols = df.schema.fields
    val nullCounts = cols.map(f =>
      AggregateValidator.violations(col(f.name).isNull).as(s"nulls_${f.name}"))
    val numeric = cols.filter(f => f.dataType.isInstanceOf[NumericType])
    val varFlags = numeric.map(f =>
      (stddev_samp(col(f.name)) === 0.0).as(s"novar_${f.name}"))
    val aggs = Seq(count(lit(1)).as("total_records"),
      count_distinct(struct(cols.map(f => col(f.name)).toIndexedSeq: _*))
        .as("distinct_records")) ++ nullCounts ++ varFlags
    df.agg(aggs.head, aggs.tail: _*)
      .withColumn("duplicate_count",
        col("total_records") - col("distinct_records"))
  }

  def plan(df: DataFrame): AggregateValidator.Plan = {
    import AggregateValidator._
    val cols = df.schema.fields
    val nullCounts = cols.map(f => violations(col(f.name).isNull))
    val numeric = cols.filter(f => f.dataType.isInstanceOf[NumericType])
    val stddevs = numeric.map(f => stddev(col(f.name)))
    // full-row duplicate count = n - n_distinct over all columns;
    // struct() is never NULL so count_distinct sees every row.
    val aggs = Seq(count(lit(1)),
      count_distinct(struct(cols.map(f => col(f.name)).toIndexedSeq: _*))) ++
      nullCounts ++ stddevs
    Plan(aggs, v => report(cols, numeric, v))
  }

  private def report(cols: Array[StructField], numeric: Array[StructField],
      v: IndexedSeq[Any]): ValidationReport = {
    import AggregateValidator.long
    val n = long(v(0))
    if (n == 0)
      return ValidationReport(isValid = false,
        Seq("No data provided for validation"), Nil, Map.empty)
    val dupCount = n - long(v(1))
    val dupPct = dupCount.toDouble / n

    val errors = scala.collection.mutable.Buffer.empty[String]
    val warnings = scala.collection.mutable.Buffer.empty[String]
    if (n < minRecords)
      errors += s"Insufficient data: $n records, minimum required: $minRecords"
    val nullPcts = cols.zipWithIndex.map { case (f, i) =>
      f.name -> long(v(2 + i)).toDouble / n
    }.toMap
    nullPcts.toSeq.sortBy(_._1).foreach { case (cn, pct) =>
      if (pct > maxNullPercentage)
        warnings += f"Column '$cn' has ${pct * 100}%.2f%% null values (threshold: ${maxNullPercentage * 100}%.2f%%)"
    }
    if (dupPct > maxDuplicatePercentage)
      warnings += f"Found ${dupPct * 100}%.2f%% duplicate records (threshold: ${maxDuplicatePercentage * 100}%.2f%%)"
    numeric.zipWithIndex.foreach { case (f, i) =>
      if (v(2 + cols.length + i) == 0.0)
        warnings += s"Column '${f.name}' has no variance (all values identical)"
    }
    ValidationReport(errors.isEmpty, errors.toSeq, warnings.toSeq, Map(
      "total_records" -> n,
      "duplicate_count" -> dupCount,
      "duplicate_percentage" -> dupPct,
      "null_percentages" -> nullPcts,
      "data_types" -> cols.map(f => f.name -> f.dataType.simpleString).toMap))
  }
}

/** V4 business rules (`data_validators.py:195-268`). */
sealed trait BusinessRule { def ruleName: String }
case class RangeRule(ruleName: String, field: String,
    min: Option[Double] = None, max: Option[Double] = None) extends BusinessRule
case class RelationshipRule(ruleName: String, field1: String, field2: String,
    op: String) extends BusinessRule // greater_than | less_than | equal
case class CustomRule(ruleName: String, violations: DataFrame => Long)
    extends BusinessRule

/** One violation count per Column-expressible rule; each [[CustomRule]]
  * runs its own function when the report is built. */
case class BusinessRuleValidator(rules: Seq[BusinessRule])
    extends AggregateValidator {
  val name = "Business Rule Validator"

  /** Violation predicate for one rule, if expressible as a Column. */
  def predicate(df: DataFrame, rule: BusinessRule): Option[Column] = rule match {
    case RangeRule(_, f, mn, mx) if df.columns.contains(f) =>
      val c = col(f)
      // reference counts min- and max-violations separately (a record can
      // violate both only when min>max); predicate form: either side out.
      val conds = mn.map(m => c < m).toSeq ++ mx.map(m => c > m).toSeq
      conds.reduceOption(_ || _).map(p => c.isNotNull && p)
    case RelationshipRule(_, f1, f2, op)
        if df.columns.contains(f1) && df.columns.contains(f2) =>
      val (a, b) = (col(f1), col(f2))
      op match {
        case "greater_than" => Some(!(a > b))
        case "less_than"    => Some(!(a < b))
        case "equal"        => Some(!(a === b))
        case _ => None
      }
    case _ => None
  }

  /** One-row DataFrame of per-rule violation counts (judged query form;
    * custom rules excluded — they aren't Column-expressible). */
  def violationCountsDF(df: DataFrame): DataFrame = {
    val columnRules = rules.flatMap(r => predicate(df, r).map(r -> _))
    val aggs = count(lit(1)).as("total_records") +: columnRules.map {
      case (r, p) => AggregateValidator.violations(p)
        .as("viol_" + r.ruleName.replaceAll("[^A-Za-z0-9]+", "_"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  def plan(df: DataFrame): AggregateValidator.Plan = {
    import AggregateValidator._
    val columnRules = rules.flatMap(r => predicate(df, r).map(r -> _))
    Plan(columnRules.map { case (_, p) => violations(p) }, v => {
      val errors = columnRules.map(_._1).zip(v.map(long)).collect {
        case (r, n) if n > 0 => s"Rule '${r.ruleName}': $n violations found"
      } ++ rules.collect { case CustomRule(rn, fn) => rn -> Try(fn(df)) }
        .collect {
          case (rn, Success(n)) if n > 0 =>
            s"Rule '$rn': $n custom rule violations"
          case (rn, Failure(e)) =>
            s"Rule '$rn': Custom validation failed - ${e.getMessage}"
        }
      ValidationReport(errors.isEmpty, errors, Nil, Map.empty)
    })
  }
}

/** V5 validation pipeline (`data_validators.py:270-308`): run all
  * validators with per-validator failure isolation; roll up a summary.
  *
  * The [[AggregateValidator]]s share ONE aggregate pass over the frame,
  * labelled `validate:pipeline`; any other validator runs alone. A
  * validator whose `plan` or report throws reports its own failure. If
  * the shared pass itself throws, each aggregate validator reruns alone,
  * so the failure stays with the validator that caused it. */
case class ValidationPipeline(validators: Seq[Validator]) {
  def validate(df: DataFrame): Map[String, ValidationReport] = {
    val plans = validators.map {
      case a: AggregateValidator => Some(Try(a.plan(df)))
      case _ => None
    }
    val fused = Try(graft.etl.Utils.withJobDescription(
        df.sparkSession.sparkContext, "validate:pipeline") {
      AggregateValidator.evaluate(df,
        plans.flatten.collect { case Success(p) => p })
    }).toOption.map(_.iterator)
    validators.zip(plans).map {
      case (v, Some(Failure(e))) => v.name -> failed(v, e)
      case (v, Some(Success(p))) if fused.isDefined =>
        val values = fused.get.next()
        v.name -> isolated(v)(p.report(values))
      case (v, _) => v.name -> isolated(v)(v.validate(df))
    }.toMap
  }

  private def isolated(v: Validator)(r: => ValidationReport): ValidationReport =
    Try(r).fold(failed(v, _), identity)

  private def failed(v: Validator, e: Throwable): ValidationReport =
    ValidationReport(isValid = false,
      Seq(s"Validator '${v.name}' failed: ${e.getMessage}"), Nil, Map.empty)

  def isValid(results: Map[String, ValidationReport]): Boolean =
    results.values.forall(_.isValid)

  def summary(results: Map[String, ValidationReport]): Map[String, Any] = Map(
    "overall_valid" -> isValid(results),
    "total_errors" -> results.values.map(_.errors.size).sum,
    "total_warnings" -> results.values.map(_.warnings.size).sum,
    "validator_results" -> results)
}

/** Distribution-drift detection between two slices of one table —
  * the deploy-time twin of the value-range validators above: a feed
  * can stay 100 % rule-valid while its DISTRIBUTION quietly shifts
  * (sensor recalibration, client version skew, upstream resampling).
  * The standard scorecard number is the Population Stability Index
  * over a fixed binning:
  *
  *   PSI = Σ_bins (q_i − p_i) · ln(q_i / p_i)
  *
  * with p = reference-slice bin fraction, q = current-slice bin
  * fraction, both ε-floored so one-sided-empty bins stay finite
  * (< 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted — the usual
  * credit-scoring thresholds).
  *
  * Scale: ONE pass over the table into a (group, bin) aggregate —
  * bins are fixed-width (no quantile job), per-group totals ride a
  * broadcast join, and the PSI fold is a ≤ nBins-row aggregate per
  * group. Nothing about the shape changes at 100 TB.
  */
object Drift {

  /** Per-group PSI of `valueCol` between the `refCond` slice and the
    * rest. Returns (group, n_ref, n_cur, psi). */
  def psi(df: DataFrame, groupCol: String, valueCol: String,
      refCond: Column, binWidth: Double, nBins: Int,
      eps: Double = 1e-6): DataFrame = {
    val binned = df.select(col(groupCol),
      least(floor(col(valueCol) / binWidth), lit(nBins - 1.0))
        .cast("long").as("__bin"),
      when(refCond, 1L).otherwise(0L).as("__ref"))
    val cells = binned.groupBy(col(groupCol), col("__bin"))
      .agg(sum(col("__ref")).as("ref_n"),
        sum(lit(1L) - col("__ref")).as("cur_n"))
    val totals = cells.groupBy(col(groupCol))
      .agg(sum(col("ref_n")).as("ref_tot"), sum(col("cur_n")).as("cur_tot"))
    val p = greatest(col("ref_n") / col("ref_tot"), lit(eps))
    val q = greatest(col("cur_n") / col("cur_tot"), lit(eps))
    // null-safe totals join: a NULL group key is still a group
    // (the Scale.exactPercentiles lesson)
    val t = totals.withColumnRenamed(groupCol, "__g")
    cells.join(broadcast(t), col(groupCol) <=> col("__g")).drop("__g")
      .select(col(groupCol), col("ref_n"), col("cur_n"),
        col("ref_tot"), col("cur_tot"),
        ((q - p) * log(q / p)).as("__term"))
      .groupBy(col(groupCol))
      .agg(sum(col("ref_n")).as("n_ref"), sum(col("cur_n")).as("n_cur"),
        sum(col("__term")).as("psi"))
  }
}

/** Re-identification risk audit for a lake that serves extracts: the
  * k-anonymity census over a quasi-identifier column set (Sweeney '02
  * — a row is k-anonymous when at least k−1 others share its full
  * quasi-identifier tuple; the groups BELOW k are the ones a joiner
  * with an external dataset can single out).
  *
  * Scale: one hash aggregate over the quasi-identifier columns —
  * equivalence-class-bounded output, the same shape as any groupBy
  * rollup; no row-level data leaves the executors.
  */
object Privacy {

  /** Equivalence classes below `k`: one row per risky quasi-identifier
    * tuple with its class size `n` (1 = unique, the worst). Generalize
    * a column (band a number, truncate a zip) by passing an expression
    * in `quasiIds`. */
  def kAnonymityRisk(df: DataFrame, quasiIds: Seq[Column],
      k: Long): DataFrame = {
    require(quasiIds.nonEmpty, "need at least one quasi-identifier")
    df.groupBy(quasiIds: _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }
}

/** Categorical-dependence diagnostics: Pearson's chi-squared test of
  * independence over a two-column contingency table — the "is this
  * dimension actually independent of that outcome" check behind
  * stratification choices and drift triage ([[Drift]] compares one
  * distribution over time; this compares two columns at rest).
  *
  * Scale: one (a, b) cell aggregate (cell-bounded from there on);
  * marginals derive from the cells and ride broadcast joins. No
  * p-value lookup — returning (chi2, dof) keeps it distribution-free;
  * judge against the chi-squared critical value offline.
  */
object Dependence {

  /** REFERENTIAL-INTEGRITY audit: for each claimed FK relationship
    * `(child.fk → parent.pk)`, how many child rows point at no parent?
    * The multi-source lake's first consistency question — ingestion
    * order, partial loads, and source drift all surface as orphans
    * before they surface anywhere else. NULL FKs are excluded (SQL FK
    * semantics: null references nothing and violates nothing).
    *
    * Scale: per relation one left join of the child's FK column
    * against the parent's DISTINCT key set — the parent side reduces
    * to key cardinality before the join (broadcast for dims, shuffle
    * for fact-to-fact) — then a 2-scalar reduce. The child is never
    * re-scanned per metric. */
  def fkAudit(rels: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame =
    rels.map { case (name, child, fk, parent, pk) =>
      child.filter(col(fk).isNotNull)
        .join(parent.select(col(pk).as("__pk")).distinct(),
          col(fk) === col("__pk"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("__pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("relation"), col("n_rows"), col("n_orphans"),
          (col("n_orphans") === 0).as("ok"))
    }.reduce(_.unionByName(_))

  /** FUNCTIONAL-DEPENDENCY audit: for each claimed `lhs → rhs`, does
    * every lhs key map to exactly one rhs value? The schema contracts
    * a lake inherits (natural keys, 1:1 code tables, SCD1 attributes)
    * are all FDs, and checking them is the first thing a data-quality
    * pass owes: one row per claim with the key count, the number of
    * VIOLATING keys (more than one distinct rhs), the worst key's
    * variant count, and the verdict. NULL lhs rows are excluded (no
    * key, no claim); NULL rhs counts as a variant via the sentinel
    * grouping below.
    *
    * Scale: one hash aggregate per claim on (lhs, rhs) — pairs, not
    * rows, after map-side combine — then a per-lhs rollup and a
    * 4-scalar reduce. Nothing is ever collected; the exact distinct
    * is per-key (bounded by that key's variants), never global. */
  def fdAudit(df: DataFrame, fds: Seq[(String, String)]): DataFrame =
    fds.map { case (l, r) =>
      df.filter(col(l).isNotNull)
        // two-level aggregate: distinct (lhs, rhs) pairs first, so the
        // per-key variant count is a cheap count(*), not a
        // count(distinct) carrying row-cardinality state
        .groupBy(col(l).as("__lhs"),
          coalesce(col(r).cast("string"), lit("<NULL>")).as("__rhs"))
        .agg(count(lit(1)).as("__n"))
        .groupBy(col("__lhs"))
        .agg(count(lit(1)).as("__variants"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("__variants") > 1, 1L).otherwise(0L))
            .as("n_violating"),
          max(col("__variants")).as("max_variants"))
        .select(lit(s"$l->$r").as("fd"), col("n_keys"),
          col("n_violating"), col("max_variants"),
          (col("n_violating") === 0).as("holds"))
    }.reduce(_.unionByName(_))

  /** One row: `n`, `dof` = (|A|−1)(|B|−1), and `chi2` = Σ (O−E)²/E
    * with E = rowTot·colTot/n. NULL categories count as a real level
    * (they form a row/column of the table). */
  def chiSquare(df: DataFrame, aCol: String, bCol: String,
      roundTo: Int = 6): DataFrame = {
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val aTot = cells.groupBy(col("__a")).agg(sum(col("__o")).as("__na"))
    val bTot = cells.groupBy(col("__b")).agg(sum(col("__o")).as("__nb"))
    // level counts come from the marginal tables, not countDistinct —
    // count(DISTINCT x) ignores NULL, but a NULL level has a row of
    // marginals and belongs in dof
    val n = cells.agg(sum(col("__o")).cast("double").as("__n"))
      .crossJoin(broadcast(aTot.agg(count(lit(1)).as("__ka"))))
      .crossJoin(broadcast(bTot.agg(count(lit(1)).as("__kb"))))
    // double-space product: long·long marginals overflow int64 once
    // row counts pass ~3e9; doubles are exact below 2^53 and the
    // oracle's HUGEINT product converts to the same double
    val e = col("__na").cast("double") * col("__nb") / col("__n")
    // marginal joins are null-safe: a NULL category is a real level
    // and an equality join would silently drop its row of the table
    // (the Scale.exactPercentiles lesson)
    cells
      .join(broadcast(aTot.withColumnRenamed("__a", "__a2")),
        col("__a") <=> col("__a2")).drop("__a2")
      .join(broadcast(bTot.withColumnRenamed("__b", "__b2")),
        col("__b") <=> col("__b2")).drop("__b2")
      .crossJoin(broadcast(n))
      .select(col("__n"), col("__ka"), col("__kb"),
        ((col("__o") - e) * (col("__o") - e) / e).as("__term"))
      .groupBy(col("__n"), col("__ka"), col("__kb"))
      .agg(round(sum(col("__term")), roundTo).as("chi2"))
      .select(col("__n").cast("long").as("n"),
        ((col("__ka") - 1) * (col("__kb") - 1)).as("dof"), col("chi2"))
  }
}

/** One-pass column profiling: the per-column quality scorecard (null
  * share, cardinality, Shannon entropy) a lake catalog shows next to
  * every table — [[SchemaValidator]] checks a contract, this MEASURES
  * the distribution.
  *
  * Scale: the wide table unpivots to (column, value) pairs — rows ×
  * |cols| — then ONE (column, value) aggregate; per-column rollups and
  * the entropy fold run over the value-frequency table, which is
  * cardinality-bounded, not corpus-bounded. Values profile as strings
  * (one unpivoted type); numerics keep their parquet text form.
  */
object Profile {

  /** Per listed column: `n`, `n_null`, `n_distinct` (non-null),
    * `entropy` = −Σ p·ln p over the non-null value distribution
    * (0 for constant columns, ln(k) for uniform k-valued ones),
    * rounded to `roundTo`. */
  def columnProfile(df: DataFrame, cols: Seq[String],
      roundTo: Int = 6): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val pairs = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("col_name"),
        col(c).cast("string").as("__val"))): _*)).as("__p"))
      .select(col("__p.col_name").as("col_name"), col("__p.__val"))
    val freq = pairs.groupBy(col("col_name"), col("__val"))
      .agg(count(lit(1)).as("__c"))
    val tot = freq.filter(col("__val").isNotNull)
      .groupBy(col("col_name").as("__cn"))
      .agg(sum(col("__c")).cast("double").as("__nn"))
    freq
      .join(broadcast(tot), col("col_name") === col("__cn"), "left")
      .groupBy(col("col_name"))
      .agg(sum(col("__c")).as("n"),
        coalesce(sum(when(col("__val").isNull, col("__c"))), lit(0L))
          .as("n_null"),
        count(when(col("__val").isNotNull, lit(1))).as("n_distinct"),
        round(coalesce(-sum(when(col("__val").isNotNull,
          col("__c") / col("__nn") * log(col("__c") / col("__nn")))),
          lit(0.0)), roundTo).as("entropy"))
  }
}

/** Numeric-profile extensions of [[Profile]]: one-pass pairwise
  * correlation and the Benford first-digit audit. Both reduce the
  * fact table in a single partial+final aggregate; outputs are
  * pair²- / digit-bounded. */
object NumericProfile {

  /** Pairwise Pearson correlation of `cols` — ALL k·(k−1)/2 pairs in
    * ONE aggregate pass over the data (each pair is one codegen'd
    * `corr` agg expression; Spark's partial aggregation keeps the
    * scan single), then the 1-row wide result unpivots to the long
    * (col_a, col_b, corr) matrix the catalog UI wants. No shuffle
    * ever carries row data — only the k²-bounded summary. */
  def corrMatrix(df: DataFrame, cols: Seq[String],
      roundTo: Int = 6): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns, got ${cols.size}")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a).cast("double"), col(b).cast("double")), roundTo)
        .as(s"$a|$b") }
    val stackArgs = pairs.map { case (a, b) => s"'$a', '$b', `$a|$b`" }
      .mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, corr)")
  }

  /** Benford's-law first-digit audit — the classic fraud/garbage
    * detector for naturally-occurring amounts: the share of values
    * whose first significant digit is d should track log10(1 + 1/d).
    * The digit is extracted from the value's DECIMAL(18,2) string
    * form (portable: both engines print decimals identically, and no
    * float log10 can misround a power of ten into the wrong digit).
    * One scan → digit-bounded aggregate; the total re-enters as a
    * broadcast scalar. */
  def benford(df: DataFrame, valueCol: String,
      roundTo: Int = 6): DataFrame = {
    val digit = regexp_extract(
      round(col(valueCol).cast("double"), 2).cast("decimal(18,2)")
        .cast("string"), "([1-9])", 1)
    val counts = df
      .filter(col(valueCol).isNotNull)
      .select(digit.as("__d"))
      .filter(col("__d") =!= "") // |x| < 0.005 rounds to 0.00: no digit
      .groupBy(col("__d").cast("int").as("digit"))
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).cast("double").as("__tot"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("n") / col("__tot"), roundTo).as("share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), roundTo)
          .as("expected"))
  }
}

/** A/B experiment analysis — Welch's unequal-variance t-test over
  * every pair of arms, the readout step of any experimentation
  * pipeline the lake hosts. Welch (not Student) because lake arms are
  * never variance-matched: each arm keeps its own variance and the
  * Welch–Satterthwaite approximation supplies the degrees of freedom.
  *
  * Scale shape: ONE partial+final aggregate over the fact table
  * reduces each arm to (n, mean, var) — three doubles — and the pair
  * expansion is a self-join of that arm summary with itself, bounded
  * by arms², never touching row data again. The t statistic and dof
  * are closed-form arithmetic on the summaries.
  */
object Experiment {

  /** Per unordered arm pair (a < b): sizes, means, the mean
    * difference, Welch `t`, and Welch–Satterthwaite `dof`, rounded to
    * `roundTo`. Arms with fewer than 2 non-null metric rows cannot
    * carry a variance and are excluded (their pairs with everyone
    * drop too, matching the oracle's HAVING). */
  def welchPairs(df: DataFrame, armCol: String, metricCol: String,
      roundTo: Int = 6): DataFrame = {
    val m = col(metricCol).cast("double")
    val arms = df.filter(m.isNotNull)
      .groupBy(col(armCol).as("arm"))
      .agg(count(m).as("n"), avg(m).as("mean"), var_samp(m).as("v"))
      .filter(col("n") >= 2)
    val a = arms.select(col("arm").as("arm_a"), col("n").as("na"),
      col("mean").as("ma"), col("v").as("va"))
    val b = arms.select(col("arm").as("arm_b"), col("n").as("nb"),
      col("mean").as("mb"), col("v").as("vb"))
    val sea = col("va") / col("na")
    val seb = col("vb") / col("nb")
    // arms² theta-join over the 3-double summaries — the nested-loop
    // side is the bounded arm table, never row data
    a.join(broadcast(b), col("arm_a") < col("arm_b"))
      .select(col("arm_a"), col("arm_b"), col("na"), col("nb"),
        round(col("ma"), roundTo).as("mean_a"),
        round(col("mb"), roundTo).as("mean_b"),
        round(col("ma") - col("mb"), roundTo).as("diff"),
        round((col("ma") - col("mb")) / sqrt(sea + seb), roundTo).as("t"),
        round(pow(sea + seb, 2) /
          (pow(sea, 2) / (col("na") - 1) + pow(seb, 2) / (col("nb") - 1)),
          roundTo).as("dof"))
  }
}
