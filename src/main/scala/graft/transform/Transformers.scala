package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.scalars._

/** Transformer layer (SURVEY.md §2.8/§2.10 O1).
  *
  * The reference applies record-level `transform(dict) -> dict` functions
  * one row at a time inside the API worker
  * (`data_transformers.py:290-311`); here each transformer is a
  * `DataFrame => DataFrame` whole-column rewrite, so the work distributes
  * and stays inside codegen. Chaining is `Dataset.transform` folding.
  *
  * Timestamp stamping (`_cleaned_at` etc., F16) is controlled by
  * [[Stamp]] so correctness-compared queries can run without wall-clock
  * columns (SURVEY §7.4 hard part 2).
  */
trait Transformer extends (DataFrame => DataFrame) {
  def name: String
}

/** Wall-clock stamping switch: `Stamp.on` adds the reference's metadata
  * timestamp columns; `Stamp.off` omits them for deterministic output. */
sealed trait Stamp {
  def apply(df: DataFrame, colName: String): DataFrame
}
object Stamp {
  case object on extends Stamp {
    def apply(df: DataFrame, colName: String): DataFrame =
      df.withColumn(colName,
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
  }
  case object off extends Stamp {
    def apply(df: DataFrame, colName: String): DataFrame = df
  }
}

/** Cleaning (`data_transformers.py:27-91`): null standardization, trim,
  * email lowercasing, title-case for country/state/status, phone
  * normalization, numeric string coercion, `_cleaned_at` stamp.
  *
  * Numeric coercion semantics: the reference decides per *value*; a Spark
  * column is single-typed, so coercion is a per-column decision
  * (SURVEY §7.4). `coerce` lists the string columns to convert (long when
  * no '.' appears in any value, else double); [[Cleaning.inferCoercions]]
  * derives that list with one aggregate pass when the caller doesn't know
  * the schema (the Spark analogue of schema-on-read inference; sample it
  * at 100 TB).
  */
case class Cleaning(coerce: Map[String, String] = Map.empty,
    stamp: Stamp = Stamp.on) extends Transformer {
  val name = "Data Cleaning Transformer"

  private val titleCased = Set("country", "state", "status")

  def apply(df: DataFrame): DataFrame = {
    val cleanedCols = df.schema.fields.map { f =>
      val c = col(f.name)
      val k = f.name.toLowerCase
      val cleaned = f.dataType match {
        case StringType =>
          val base = standardizeNullString(trim(c))
          val cased =
            if (k == "email") lower(base)
            else if (titleCased(k)) initcap(base)
            else base
          if (k.contains("phone")) normalizePhone(cased) else cased
        case DoubleType | FloatType => standardizeNullDouble(c)
        case _ => c
      }
      cleaned.as(f.name)
    }
    val cleaned = df.select(cleanedCols.toIndexedSeq: _*)
    val coerced = coerce.foldLeft(cleaned) { case (d, (cn, ty)) =>
      d.schema.fields.find(_.name == cn) match {
        case Some(f) if f.dataType == StringType =>
          d.withColumn(cn, col(cn).try_cast(ty))
        case _ => d
      }
    }
    stamp(coerced, "_cleaned_at")
  }
}

object Cleaning {
  /** One aggregate pass over string columns: a column is coercible when
    * every non-null trimmed value parses as a number; target type is
    * long when every value is integral (the column-level version of the
    * reference's per-value `int if '.' not in value else float` rule —
    * a Spark column is single-typed). Sample upstream at 100 TB. */
  def inferCoercions(df: DataFrame): Map[String, String] = {
    val strCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    if (strCols.isEmpty) return Map.empty
    val aggs = strCols.flatMap { cn =>
      val t = standardizeNullString(trim(col(cn)))
      Seq(
        count(t).as(s"${cn}__n"),
        count(when(isNumeric(t), 1)).as(s"${cn}__num"),
        count(when(coerceLong(t).isNotNull, 1)).as(s"${cn}__int"))
    }
    val row = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).head()
    strCols.zipWithIndex.flatMap { case (cn, i) =>
      val (n, num, int) =
        (row.getLong(3 * i), row.getLong(3 * i + 1), row.getLong(3 * i + 2))
      if (n > 0 && n == num) Some(cn -> (if (int == n) "long" else "double"))
      else None
    }.toMap
  }
}

/** Field-level validation rule (`data_transformers.py:100-136`,
  * `data_validators.py:56-109`). */
case class FieldRule(
    required: Boolean = false,
    typ: Option[String] = None,       // email | date | string | integer | float | boolean | datetime
    min: Option[Double] = None,
    max: Option[Double] = None,
    minLength: Option[Int] = None,
    maxLength: Option[Int] = None)

object FieldRule {
  /** Render rule bounds the way Python str() renders them in error
    * messages (ints without trailing .0). */
  def num(d: Double): String =
    if (d == d.floor && !d.isInfinite && d.abs < 1e15) d.toLong.toString
    else d.toString
}

/** Validation transformer (`data_transformers.py:93-150`): per-record
  * error accumulation into `_validation_errors: array<string>`,
  * `_is_valid`, `_validated_at`. Error strings match the reference.
  *
  * Per the reference, checks only fire for fields present in the data;
  * range checks only for numeric columns; type checks stringify first.
  */
case class Validation(rules: Map[String, FieldRule], stamp: Stamp = Stamp.on)
    extends Transformer {
  val name = "Data Validation Transformer"

  def apply(df: DataFrame): DataFrame = {
    val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val errs: Seq[Column] = rules.toSeq.sortBy(_._1).flatMap { case (f, r) =>
      present.get(f).map(dt => fieldErrors(f, col(f), dt, r)).getOrElse(Nil)
    }
    val errArr: Column =
      if (errs.isEmpty) array().cast(ArrayType(StringType, containsNull = false))
      else filter(array(errs: _*), e => e.isNotNull)
    val out = df
      .withColumn("_validation_errors", errArr)
      .withColumn("_is_valid", size(col("_validation_errors")) === 0)
    stamp(out, "_validated_at")
  }

  private def fieldErrors(f: String, c: Column, dt: DataType,
      r: FieldRule): Seq[Column] = {
    val empty: Column = dt match {
      case StringType => c.isNull || c === ""
      case _ => c.isNull
    }
    val required =
      if (r.required) Seq(when(empty, lit(s"$f is required")))
      else Nil
    val typed = r.typ.toSeq.flatMap {
      case "email" => Seq(when(c.isNotNull && !isEmail(c.cast(StringType)),
        lit(s"$f is not a valid email")))
      case "date" => Seq(when(c.isNotNull && !isIsoDate(c.cast(StringType)),
        lit(s"$f is not a valid date")))
      case _ => Nil // string/integer/float/boolean are schema-level in Spark
    }
    val numericDt = dt match {
      case _: NumericType => true
      case _ => false
    }
    val range = if (!numericDt) Nil else {
      r.min.toSeq.map(m => when(c.isNotNull && c < m,
        lit(s"$f is below minimum value ${FieldRule.num(m)}"))) ++
      r.max.toSeq.map(m => when(c.isNotNull && c > m,
        lit(s"$f exceeds maximum value ${FieldRule.num(m)}")))
    }
    required ++ typed ++ range
  }
}

/** Enrichment (`data_transformers.py:152-185`): `_ingested_at`,
  * `calculated_age` from `birth_date`, `extracted_postal_code` from
  * `address`, `_record_hash` over email/phone/name (or first 3 columns).
  * `asOfDate` freezes age computation for deterministic output. */
case class Enrichment(stamp: Stamp = Stamp.on,
    asOfDate: Option[String] = None) extends Transformer {
  val name = "Data Enrichment Transformer"

  def apply(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val asOf = asOfDate.map(d => to_date(lit(d))).getOrElse(current_date())
    val withAge =
      if (cols.contains("birth_date"))
        df.withColumn("calculated_age", age(col("birth_date"), asOf))
      else df
    val withPostal =
      if (cols.contains("address"))
        withAge.withColumn("extracted_postal_code", postalCode(col("address")))
      else withAge
    val keyFields = {
      val preferred = Seq("email", "phone", "name").filter(cols.contains)
      if (preferred.nonEmpty) Seq("email", "phone", "name") else cols.take(3)
    }
    val hashed = withPostal.withColumn("_record_hash",
      recordHash(keyFields.map(f =>
        if (cols.contains(f)) col(f) else lit(""))))
    stamp(hashed, "_ingested_at")
  }
}

/** Normalization (`data_transformers.py:187-225`): apply caller mapping,
  * then standard renames (id→record_id, created→created_at,
  * updated→updated_at, name→full_name, phone_number→phone,
  * email_address→email) — never clobbering an existing column. */
case class Normalization(mapping: Map[String, String] = Map.empty)
    extends Transformer {
  val name = "Data Normalization Transformer"

  val standard: Seq[(String, String)] = Seq(
    "id" -> "record_id", "created" -> "created_at",
    "updated" -> "updated_at", "name" -> "full_name",
    "phone_number" -> "phone", "email_address" -> "email")

  def apply(df: DataFrame): DataFrame = {
    val applied = mapping.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from) && !d.columns.contains(to))
        d.withColumnRenamed(from, to)
      else d
    }
    standard.foldLeft(applied) { case (d, (from, to)) =>
      if (d.columns.contains(from) && !d.columns.contains(to))
        d.withColumnRenamed(from, to)
      else d
    }
  }
}

/** Aggregation (`data_transformers.py:227-288`): groupBy + per-field
  * count/sum/avg/min/max renamed `{field}_{fn}`, plus `_record_count`.
  * The reference buffers every record in driver memory then runs pandas;
  * here it is a distributed hash aggregate with map-side partials. */
case class Aggregation(groupByFields: Seq[String],
    aggregations: Seq[(String, String)], stamp: Stamp = Stamp.off)
    extends Transformer {
  val name = "Aggregation Transformer"

  def apply(df: DataFrame): DataFrame = {
    val aggCols = aggregations.flatMap { case (f, fn) =>
      if (!df.columns.contains(f)) None
      else Some(fn match {
        case "count" => count(lit(1)).as(s"${f}_count")
        case "sum"   => sum(col(f)).as(s"${f}_sum")
        case "avg"   => avg(col(f)).as(s"${f}_avg")
        case "min"   => min(col(f)).as(s"${f}_min")
        case "max"   => max(col(f)).as(s"${f}_max")
        case other   => throw new IllegalArgumentException(
          s"unsupported aggregation '$other'")
      })
    } :+ count(lit(1)).as("_record_count")
    val out = df.groupBy(groupByFields.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    stamp(out, "_aggregated_at")
  }
}

/** One transformation stage under RECORD-level error isolation — see
  * [[ErrorIsolation]]. `fails` is the per-row predicate marking records
  * the reference's Python transformer would have thrown on; `error` is
  * the per-row message expression (the analogue of `str(e)`); `outputs`
  * are the stage's column rewrites, built from try_-guarded expressions
  * so they are total. All outputs evaluate against the PRE-stage row
  * (one projection), exactly as the Python `transform(dict)` reads its
  * input dict. */
case class IsolatedStage(name: String, error: Column, fails: Column,
    outputs: Map[String, Column])

/** Record-level error isolation (`data_transformers.py:297-311`): the
  * reference wraps every transformer's per-record `transform` in
  * try/except — a record that throws keeps its pre-stage values, gains
  * `"<transformer name>: <error>"` appended to
  * `_transformation_errors`, and STAYS in the stream (rows are never
  * dropped). Catalyst expressions don't throw per-row, so the Spark
  * form is: try_-guarded output expressions plus an explicit per-row
  * failure predicate — where it holds, the stage's outputs are not
  * applied (existing columns keep their value; new columns are null,
  * the dict-key-never-added case) and the error is appended.
  *
  * Scale: each stage is ONE narrow projection, fully codegen'd, no
  * shuffle — the error array rides the row like any other column, and
  * the whole chain stays inside a single WholeStageCodegen span. */
object ErrorIsolation {
  val ErrorsCol = "_transformation_errors"

  def run(df: DataFrame, stages: Seq[IsolatedStage]): DataFrame = {
    val seeded =
      if (df.columns.contains(ErrorsCol)) df
      else df.withColumn(ErrorsCol,
        array().cast(ArrayType(StringType, containsNull = false)))
    stages.foldLeft(seeded) { (d, st) =>
      val existing = d.columns.map { c =>
        st.outputs.get(c) match {
          case Some(e) => when(st.fails, col(c)).otherwise(e).as(c)
          case None if c == ErrorsCol =>
            when(st.fails, array_append(col(ErrorsCol),
              concat(lit(st.name + ": "), st.error)))
              .otherwise(col(ErrorsCol)).as(ErrorsCol)
          case None => col(c)
        }
      }
      val fresh = st.outputs.toSeq.sortBy(_._1)
        .filterNot { case (c, _) => d.columns.contains(c) }
        .map { case (c, e) =>
          when(st.fails, lit(null)).otherwise(e).as(c) }
      d.select(existing.toIndexedSeq ++ fresh: _*)
    }
  }

  /** Per-stage rollup of an isolated run: total rows out (must equal
    * rows in — the never-drop contract), clean rows, and one error
    * count per stage, recovered from the message prefixes. */
  def stageCounts(out: DataFrame, stages: Seq[IsolatedStage]): DataFrame = {
    val perStage = stages.map { st =>
      sum(when(exists(col(ErrorsCol),
        e => e.startsWith(st.name + ": ")), 1L).otherwise(0L))
        .as("err_" + st.name.toLowerCase.replaceAll("[^a-z0-9]+", "_")
          .replaceAll("_+$", ""))
    }
    val aggs = Seq(count(lit(1)).as("rows_out"),
      sum(when(size(col(ErrorsCol)) === 0, 1L).otherwise(0L))
        .as("rows_clean")) ++ perStage
    out.agg(aggs.head, aggs.tail: _*)
  }
}

/** Transformation chain (`data_transformers.py:290-311`): fold transforms
  * over the DataFrame. Catalyst expressions don't throw per-row the way
  * Python transformers do; stage-level failures surface as exceptions at
  * plan/action time (SURVEY §7.4 hard part 3), so "continue on error"
  * means: a stage that throws at *plan build* is recorded and skipped,
  * the record stream is never dropped. Record-level isolation — the
  * reference's actual per-record try/except — is [[ErrorIsolation]]. */
case class Pipeline(steps: Seq[Transformer]) extends (DataFrame => DataFrame) {
  def apply(df: DataFrame): DataFrame = run(df)._1

  /** Returns the transformed frame plus the names of stages that failed
    * to apply (plan-build failures only — runtime is all-or-nothing). */
  def run(df: DataFrame): (DataFrame, Seq[String]) =
    steps.foldLeft((df, Seq.empty[String])) { case ((d, errs), t) =>
      scala.util.Try(t(d)) match {
        case scala.util.Success(out) => (out, errs)
        case scala.util.Failure(e) => (d, errs :+ s"${t.name}: ${e.getMessage}")
      }
    }
}
