package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar function library (SURVEY.md §2.8 F1–F24).
  *
  * Every function here is a composition of Catalyst built-ins
  * (`org.apache.spark.sql.functions`) — zero UDFs — so the whole library
  * stays inside whole-stage codegen and is safe in 100 TB hot paths.
  *
  * Semantics pinned to the reference implementation (cited per function);
  * deliberate divergences are documented where Python-specific behavior
  * (e.g. `str.title()` digit handling, non-portable `hash()`) has no
  * stable distributed equivalent.
  */
object scalars {

  /** Email pattern — reference `common_utils.py:54-59` /
    * `data_transformers.py:138-141`. Anchored, same class sets. */
  val EmailRe = "^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$"

  /** URL pattern — reference `common_utils.py:86-97` (http(s), domain /
    * localhost / IPv4, optional port/path, case-insensitive). */
  val UrlRe =
    "(?i)^https?://((([A-Z0-9]([A-Z0-9-]{0,61}[A-Z0-9])?\\.)+[A-Z]{2,6}\\.?)|localhost|\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})(:\\d+)?(/?|[/?]\\S+)$"

  /** Multi-format timestamp fallback list — reference `common_utils.py:70-84`
    * (`%Y-%m-%d`, `%Y/%m/%d`, `%d-%m-%Y`, `%d/%m/%Y`, datetime variants,
    * `...Z`, fractional seconds) in Spark datetime-pattern syntax. */
  val DateFormats: Seq[String] = Seq(
    "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss'Z'", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd", "yyyy/MM/dd", "dd-MM-yyyy", "dd/MM/yyyy")

  // ── F1 null standardization ────────────────────────────────────────
  /** `None`/`''`/`NaN` → null (`data_transformers.py:39-41`). Strings. */
  def standardizeNullString(c: Column): Column =
    when(c === "", lit(null).cast(StringType)).otherwise(c)

  /** NaN → null for floating columns (`base_extractors.py:221`, F24). */
  def standardizeNullDouble(c: Column): Column =
    nanvl(c, lit(null).cast(DoubleType))

  // ── F2/F3/F4 string cleaning ───────────────────────────────────────
  /** strip whitespace (`data_transformers.py:46`). */
  def trimmed(c: Column): Column = trim(c)

  /** Title-casing for country/state/status (`data_transformers.py:50-51`).
    * Divergence: Python `str.title()` also splits on digits/apostrophes;
    * `initcap` splits on whitespace only — acceptable per SURVEY §7.3. */
  def titleCase(c: Column): Column = initcap(trim(c))

  // ── F5 phone normalization ─────────────────────────────────────────
  /** Strip non-digits; 10 digits → `(XXX) XXX-XXXX`; 11 with leading 1 →
    * `+1 (XXX) XXX-XXXX`; else original (`data_transformers.py:72-83`). */
  def normalizePhone(c: Column): Column = {
    val d = regexp_replace(c, "\\D", "")
    when(length(d) === 10,
        format_string("(%s) %s-%s",
          substring(d, 1, 3), substring(d, 4, 3), substring(d, 7, 4)))
      .when(length(d) === 11 && substring(d, 1, 1) === "1",
        format_string("+1 (%s) %s-%s",
          substring(d, 2, 3), substring(d, 5, 3), substring(d, 8, 4)))
      .otherwise(c)
  }

  // ── PII scrubbing (training-data extension) ────────────────────────
  /** Regexes shared with the DuckDB oracle — RE2-compatible by design
    * (no lookaround), so Java and RE2 agree match-for-match. */
  val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val piiSsnRe = "\\d{3}-\\d{2}-\\d{4}"
  val piiPhoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** Redact emails/SSNs/phone numbers to typed markers — the corpus
    * scrub every LLM training pipeline runs before tokenization. Order
    * matters: emails first (an address can embed digit-dash runs), then
    * the narrower SSN shape, then phones. Pure regexp_replace chain —
    * codegen, no UDF. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, piiEmailRe, "[EMAIL]"),
        piiSsnRe, "[ID]"),
      piiPhoneRe, "[PHONE]")

  // ── F6 numeric coercion ────────────────────────────────────────────
  /** Numeric-looking string → long (no '.'/exponent) else double; null if
    * not numeric (`data_transformers.py:58-62,85-91`). NB: the reference
    * keeps the original value when non-numeric — callers that preserve
    * mixed content should guard with [[isNumeric]] instead; a Spark
    * column is single-typed (SURVEY §7.4 hard part 1). */
  /** Cheap regex prefilters: Spark's try_cast handles parse failure via
    * per-row exceptions (~10µs/row measured on always-failing input) —
    * the guard keeps the throwing path off non-numeric data entirely. */
  private val LongRe = "^\\s*[+-]?\\d{1,19}\\s*$"
  private val DoubleRe =
    "^\\s*[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?\\s*$"

  def isNumeric(c: Column): Column =
    when(c.rlike(DoubleRe), c.try_cast("double")).isNotNull

  def coerceLong(c: Column): Column =
    when(c.rlike(LongRe), c.try_cast("long"))
  def coerceDouble(c: Column): Column =
    when(c.rlike(DoubleRe), c.try_cast("double"))

  // ── F7–F11 detectors ───────────────────────────────────────────────
  def isEmail(c: Column): Column = c.rlike(EmailRe)

  /** 10–15 digits after stripping (`common_utils.py:61-67`). */
  def isPhone(c: Column): Column =
    length(regexp_replace(c, "\\D", "")).between(10, 15)

  def isUrl(c: Column): Column = c.rlike(UrlRe)

  /** Multi-format parse (F8); null ⇔ no format matched. */
  def parseDateMulti(c: Column): Column =
    coalesce(DateFormats.map(f => try_to_timestamp(c, lit(f))): _*)

  def isDate(c: Column): Column = parseDateMulti(c).isNotNull

  /** ISO-8601 validity with `Z`→`+00:00` tolerance
    * (`data_transformers.py:143-149`). */
  def isIsoDate(c: Column): Column = {
    val z = regexp_replace(c, "Z$", "")
    coalesce(
      try_to_timestamp(z, lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX]")),
      try_to_timestamp(z, lit("yyyy-MM-dd HH:mm:ss[.SSSSSS][XXX]")),
      try_to_timestamp(z, lit("yyyy-MM-dd"))).isNotNull
  }

  /** F11 value→type-name for one string column: email/phone/date/url/
    * string precedence per `common_utils.py:35-46`; null for null. */
  def detectStringType(c: Column): Column =
    when(c.isNull, "null")
      .when(isEmail(c), "email")
      .when(isPhone(c), "phone")
      .when(isDate(c), "date")
      .when(isUrl(c), "url")
      .otherwise("string")

  /** F11 generalized: type name for a column given its Spark type
    * (`common_utils.py:24-52`). Non-string types are static. */
  def detectType(c: Column, dt: DataType): Column = dt match {
    case BooleanType => when(c.isNull, "null").otherwise("boolean")
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType =>
      when(c.isNull, "null").otherwise("integer")
    case _: DoubleType | _: FloatType =>
      when(c.isNull || isnan(c), "null").otherwise("float")
    case _: DecimalType => when(c.isNull, "null").otherwise("float")
    case StringType => detectStringType(c)
    case _: ArrayType => when(c.isNull, "null").otherwise("array")
    case _: StructType | _: MapType => when(c.isNull, "null").otherwise("object")
    case _: TimestampType | _: DateType => when(c.isNull, "null").otherwise("date")
    case _ => when(c.isNull, "null").otherwise("unknown")
  }

  // ── F12–F15 enrichment ─────────────────────────────────────────────
  /** `(now - birth_date).days // 365` (`data_transformers.py:165-171`).
    * `asOf` fixed for deterministic/oracle use; default current_date. */
  def age(birth: Column, asOf: Column = current_date()): Column =
    floor(datediff(asOf, to_date(birth)) / 365)

  /** First `\b\d{5}(-\d{4})?\b` in address (`data_transformers.py:174-179`);
    * null when absent (regexp_extract returns '' on no-match). */
  def postalCode(address: Column): Column =
    nullif(regexp_extract(address, "\\b\\d{5}(-\\d{4})?\\b", 0), lit(""))

  /** F14 dedup hash over key fields (`data_transformers.py:181-184`).
    * Divergence: Python `hash()` is process-seeded/non-portable; md5 of
    * the same concatenation is the stable distributed equivalent (the
    * reference itself uses md5 at `common_utils.py:176-186`). Nulls and
    * absent keys render as '' exactly like `str(data.get(f, ''))`. */
  def recordHash(cols: Seq[Column]): Column =
    md5(concat(cols.map(c => coalesce(c.cast(StringType), lit(""))): _*))

  /** F15 `md5(json.dumps(subset, sort_keys=True))` analogue
    * (`common_utils.py:176-186`): md5 of the sorted-key JSON struct. */
  def recordHashJson(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): Column =
    md5(to_json(struct(keys.sorted.map(col): _*)))

  // ── F17/F18 json & sanitize ────────────────────────────────────────
  /** JSON parseability (`common_utils.py:408-414`). */
  def isValidJson(c: Column): Column = try_parse_json(c).isNotNull

  /** Drop control chars (<0x20) + trim (`common_utils.py:417-428`). */
  def sanitize(c: Column): Column =
    trim(regexp_replace(c, "[\\x00-\\x1f]", ""))

  // ── F20 envelope unwrap is in sources (needs a DataFrame) ──────────

  // ── F21 date-range generator (`common_utils.py:296-314`) ──────────
  /** start→end inclusive stepped by day/hour/week/month — the
    * reference's generator loop as `sequence` (explode downstream for
    * one row per step). Its "month" is a literal 30 days. */
  def dateRange(start: Column, end: Column, step: String = "day"): Column = {
    val interval = step match {
      case "day"   => "INTERVAL 1 DAY"
      case "hour"  => "INTERVAL 1 HOUR"
      case "week"  => "INTERVAL 7 DAY"
      case "month" => "INTERVAL 30 DAY"
      case other => throw new IllegalArgumentException(
        s"unsupported step: $other")
    }
    sequence(start, end, expr(interval))
  }

  // ── F22 human time-ago (`common_utils.py:317-331`) ─────────────────
  def timeAgo(seconds: Column): Column =
    when(seconds < 60, format_string("%d seconds ago", seconds.cast(LongType)))
      .when(seconds < 3600,
        format_string("%d minutes ago", (seconds / 60).cast(LongType)))
      .when(seconds < 86400,
        format_string("%d hours ago", (seconds / 3600).cast(LongType)))
      .otherwise(format_string("%d days ago", (seconds / 86400).cast(LongType)))
}
