package graft

import graft.transform.FieldRule
import graft.validate._

/** Dataset-level validator semantics (data_validators.py; FIXTURES.md §B). */
class ValidatorsSpec extends SparkSpec {
  import spark.implicits._

  test("schema validator: valid batch passes, violations counted (test_etl_pipeline.py:210-238)") {
    val schema = Map(
      "email" -> FieldRule(required = true, typ = Some("email")),
      "age" -> FieldRule(min = Some(0), max = Some(150)))
    val good = Seq(("a@b.com", 30L), ("c@d.com", 40L)).toDF("email", "age")
    assert(SchemaValidator(schema).validate(good).isValid)
    val bad = Seq(("bad-email", 200L)).toDF("email", "age")
    val r = SchemaValidator(schema).validate(bad)
    assert(!r.isValid && r.errors.size == 2)
    assert(r.metrics("total_records") == 1L)
  }

  test("schema validator: missing declared column reported") {
    val r = SchemaValidator(Map("email" -> FieldRule(required = true)))
      .validate(Seq(Tuple1(1L)).toDF("x"))
    assert(!r.isValid && r.errors.exists(_.contains("Missing required field 'email'")))
  }

  test("quality validator: dups + nulls + zero variance warned (test_system_integration.py:228-260)") {
    val df = Seq(
      (Some("John"), Some(30L), Some("john@test.com")),
      (Some("John"), Some(30L), Some("john@test.com")), // exact dup
      (Some("Jane"), Some(30L), Some("jane@test.com")),
      (Some("Bob"), Some(30L), Some("bob@test.com")),
      (None: Option[String], None: Option[Long], None: Option[String])
    ).toDF("name", "age", "email")
    val r = QualityValidator().validate(df)
    assert(r.isValid) // warnings don't invalidate
    assert(r.metrics("duplicate_count") == 1L)
    assert(r.warnings.exists(_.contains("duplicate")))
    assert(r.warnings.exists(_.contains("'name'"))) // 20% nulls > 10%
    assert(r.warnings.exists(_.contains("no variance"))) // age constant
  }

  test("quality validator: empty input errors (data_validators.py:150-152)") {
    val r = QualityValidator().validate(Seq.empty[(String, Long)].toDF("a", "b"))
    assert(!r.isValid && r.errors == Seq("No data provided for validation"))
  }

  test("quality validator: min records (data_validators.py:157-160)") {
    val r = QualityValidator(minRecords = 10)
      .validate(Seq(("x", 1L)).toDF("a", "b"))
    assert(!r.isValid && r.errors.head.startsWith("Insufficient data: 1"))
  }

  test("business rules: range + relationship + custom (data_validators.py:195-268)") {
    val df = Seq((5.0, 10.0), (20.0, 1.0), (-3.0, 2.0)).toDF("amount", "limit")
    val v = BusinessRuleValidator(Seq(
      RangeRule("amount-range", "amount", min = Some(0), max = Some(10)),
      RelationshipRule("limit-gt-amount", "limit", "amount", "greater_than"),
      CustomRule("always-ok", _ => 0L),
      CustomRule("explodes", _ => throw new RuntimeException("nope"))))
    val r = v.validate(df)
    assert(!r.isValid)
    assert(r.errors.exists(_.startsWith("Rule 'amount-range': 2 violations")))
    assert(r.errors.exists(_.startsWith("Rule 'limit-gt-amount': 1")))
    assert(r.errors.exists(_.contains("Custom validation failed")))
    assert(!r.errors.exists(_.contains("always-ok")))
  }

  test("validation pipeline: isolation + summary (data_validators.py:270-308)") {
    val df = Seq(("a@b.com", 30L)).toDF("email", "age")
    val p = ValidationPipeline(Seq(
      SchemaValidator(Map("email" -> FieldRule(typ = Some("email")))),
      QualityValidator(),
      new Validator {
        val name = "Exploder"
        def validate(d: org.apache.spark.sql.DataFrame) =
          throw new RuntimeException("dead")
      }))
    val results = p.validate(df)
    assert(results.size == 3)
    assert(!p.isValid(results))
    assert(results("Exploder").errors.head.contains("failed"))
    val s = p.summary(results)
    assert(s("overall_valid") == false)
  }

  // an hourly source batch as the ETL cycle sees it: a null required
  // field, padded and malformed emails, out-of-range amounts, a dup row
  private def hourly(): org.apache.spark.sql.DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft_val") + "/in"
    Seq(
      (1L, Some("a@b.com"), Some(10.0)),
      (2L, None, Some(20.0)),
      (3L, Some("  c@d.com  "), Some(30.0)),
      (4L, Some("not-an-email"), Some(-5.0)),
      (5L, Some("e@f.com"), Some(2.0e6)),
      (6L, Some("g@h.com"), None),
      (6L, Some("g@h.com"), None),
      (7L, Some(""), Some(70.0))
    ).toDF("transaction_id", "customer_email", "amount")
      .withColumn("_source", org.apache.spark.sql.functions.lit("transactions"))
      .coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  private val hourlyValidators = Seq(
    SchemaValidator(Map(
      "customer_email" -> FieldRule(required = true, typ = Some("email")),
      "amount" -> FieldRule(min = Some(0.0), max = Some(1000000.0)))),
    QualityValidator(),
    BusinessRuleValidator(Seq(
      RangeRule("amount_range", "amount", Some(0.0), Some(1000000.0)),
      RelationshipRule("id_gt_amount", "transaction_id", "amount",
        "greater_than"))))

  private def standalone(vs: Seq[Validator],
      df: org.apache.spark.sql.DataFrame): Map[String, ValidationReport] =
    vs.map(v => v.name -> v.validate(df)).toMap

  test("fused pipeline: same reports as each validator alone on an hourly batch") {
    val df = hourly()
    val fused = ValidationPipeline(hourlyValidators).validate(df)
    assert(fused === standalone(hourlyValidators, df))
    assert(fused("Schema Validator").errors.exists(_.contains("not a valid email")))
    assert(fused("Schema Validator").errors.exists(_.contains("above maximum")))
    assert(fused("Data Quality Validator").metrics("duplicate_count") === 1L)
    assert(fused("Business Rule Validator").errors.exists(
      _.startsWith("Rule 'amount_range': 2 violations")))
  }

  test("fused pipeline: same reports as each validator alone on an empty frame") {
    val df = hourly().filter(org.apache.spark.sql.functions.lit(false))
    val fused = ValidationPipeline(hourlyValidators).validate(df)
    assert(fused === standalone(hourlyValidators, df))
    assert(fused("Data Quality Validator").errors ===
      Seq("No data provided for validation"))
    assert(fused("Schema Validator").metrics("total_records") === 0L)
  }

  test("fused pipeline: custom rules, throwing plans and a throwing pass stay isolated") {
    import org.apache.spark.sql.functions._
    val df = hourly()
    val rules = BusinessRuleValidator(Seq(
      RangeRule("amount_range", "amount", Some(0.0), Some(1000000.0)),
      CustomRule("negatives", d => d.filter(col("amount") < 0).count()),
      CustomRule("explodes", _ => throw new RuntimeException("nope"))))
    val badPlan = new AggregateValidator {
      val name = "Bad Plan"
      def plan(d: org.apache.spark.sql.DataFrame) =
        throw new IllegalStateException("no plan")
    }
    val badPass = new AggregateValidator {
      val name = "Bad Pass"
      def plan(d: org.apache.spark.sql.DataFrame) = AggregateValidator.Plan(
        Seq(max(raise_error(lit("pass blew up")))),
        _ => ValidationReport(isValid = true, Nil, Nil, Map.empty))
    }
    val exploder = new Validator {
      val name = "Exploder"
      def validate(d: org.apache.spark.sql.DataFrame) =
        throw new RuntimeException("dead")
    }
    val healthy = hourlyValidators.take(2) :+ rules
    val out = ValidationPipeline(healthy ++ Seq(badPlan, badPass, exploder))
      .validate(df)
    assert(out.size === 6)
    assert(out.filter { case (n, _) => healthy.exists(_.name == n) } ===
      standalone(healthy, df))
    assert(out("Business Rule Validator").errors.exists(
      _.startsWith("Rule 'negatives': 1 custom rule violations")))
    assert(out("Business Rule Validator").errors.exists(
      _.contains("Custom validation failed - nope")))
    assert(out("Bad Plan").errors === Seq("Validator 'Bad Plan' failed: no plan"))
    assert(out("Bad Pass").errors.head.startsWith("Validator 'Bad Pass' failed"))
    assert(out("Bad Pass").errors.head.contains("pass blew up"))
    assert(out("Exploder").errors === Seq("Validator 'Exploder' failed: dead"))
  }

  test("fused pipeline: one labelled scan, no more jobs than the quality validator alone") {
    import org.apache.spark.graftx.JobProbe
    val df = hourly()
    val sc = spark.sparkContext
    val (_, quality) = JobProbe(sc)(QualityValidator().validate(df))
    val (_, fused) = JobProbe(sc)(
      ValidationPipeline(hourlyValidators).validate(df))
    assert(fused.jobs.nonEmpty)
    assert(fused.jobs.size <= quality.jobs.size,
      s"pipeline ran ${fused.jobs.size} jobs, quality alone ${quality.jobs.size}")
    assert(fused.inputRows === 8L) // every source row read exactly once
    assert(fused.descriptions.forall(_ == "validate:pipeline"),
      fused.descriptions)
    assert(sc.getLocalProperty("spark.job.description") == null)
  }

  test("chiSquare matches the hand-computed 2x2 table, keeps null levels") {
    import spark.implicits._
    import graft.validate.Dependence
    // 2x2: (x,p)=30 (x,q)=10 (y,p)=10 (y,q)=30; n=80
    // E = 20 everywhere, chi2 = 4 * (10^2/20) = 20, dof = 1
    val rows = Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(30)(("y", "q"))
    val r = Dependence.chiSquare(rows.toDF("a", "b"), "a", "b").head
    assert(r.getAs[Long]("n") === 80L)
    assert(r.getAs[Long]("dof") === 1L)
    assert(r.getAs[Double]("chi2") === 20.0)
    // a NULL category is a level: 2x2 with one null a-level
    val withNull = Seq((Some("x"), "p"), (Some("x"), "q"),
      (None, "p"), (None, "q")).toDF("a", "b")
    val r2 = Dependence.chiSquare(withNull, "a", "b").head
    assert(r2.getAs[Long]("dof") === 1L)
    assert(r2.getAs[Long]("n") === 4L)
    assert(r2.getAs[Double]("chi2") === 0.0)
  }

  test("columnProfile measures nulls, cardinality, entropy per column") {
    import spark.implicits._
    import graft.validate.Profile
    val df = Seq((Some("a"), "x"), (Some("a"), "x"), (Some("b"), "x"),
      (Some("b"), "x"), (None, "x")).toDF("u", "k")
    val out = Profile.columnProfile(df, Seq("u", "k"))
      .orderBy($"col_name").collect()
    val k = out(0); val u = out(1)
    assert(k.getAs[String]("col_name") === "k")
    assert(k.getAs[Long]("n") === 5L && k.getAs[Long]("n_null") === 0L)
    assert(k.getAs[Long]("n_distinct") === 1L)
    assert(k.getAs[Double]("entropy") === 0.0) // constant column
    assert(u.getAs[Long]("n") === 5L && u.getAs[Long]("n_null") === 1L)
    assert(u.getAs[Long]("n_distinct") === 2L)
    // two non-null values, 2 each: uniform over 2 levels -> ln 2
    assert(math.abs(u.getAs[Double]("entropy") - math.log(2.0)) < 1e-6)
    intercept[IllegalArgumentException] {
      Profile.columnProfile(df, Seq.empty)
    }
  }

  test("welchPairs matches the hand-computed unequal-variance test") {
    import spark.implicits._
    import graft.validate.Experiment
    // A=[1,2,3]: n=3 mean=2 var=1; B=[2,4,6,8]: n=4 mean=5 var=20/3;
    // C=[7]: n=1, excluded (no variance); one NULL metric row ignored
    val df = Seq(("A", Some(1.0)), ("A", Some(2.0)), ("A", Some(3.0)),
      ("B", Some(2.0)), ("B", Some(4.0)), ("B", Some(6.0)),
      ("B", Some(8.0)), ("C", Some(7.0)), ("A", None))
      .toDF("arm", "m")
    val out = Experiment.welchPairs(df, "arm", "m").collect()
    assert(out.length === 1) // C pairs drop with C
    val r = out(0)
    assert(r.getAs[String]("arm_a") === "A" && r.getAs[String]("arm_b") === "B")
    assert(r.getAs[Long]("na") === 3L && r.getAs[Long]("nb") === 4L)
    assert(r.getAs[Double]("diff") === -3.0)
    // t = -3/sqrt(1/3 + 5/3) = -3/sqrt(2)
    assert(math.abs(r.getAs[Double]("t") - (-3.0 / math.sqrt(2))) < 1e-6)
    // dof = 4 / ((1/3)^2/2 + (5/3)^2/3) = 4.0754716...
    assert(math.abs(r.getAs[Double]("dof") - 4.075472) < 1e-6)
  }

  test("corrMatrix: one pass, all pairs, exact on constructed data") {
    import spark.implicits._
    import graft.validate.NumericProfile
    // b = 2a (corr +1), c = -a (corr -1), d uncorrelated-ish
    val df = Seq((1.0, 2.0, -1.0, 5.0), (2.0, 4.0, -2.0, 1.0),
      (3.0, 6.0, -3.0, 4.0), (4.0, 8.0, -4.0, 2.0))
      .toDF("a", "b", "c", "d")
    val m = NumericProfile.corrMatrix(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(2)).toMap
    assert(m.size === 3)
    assert(m(("a", "b")) === 1.0 && m(("a", "c")) === -1.0
      && m(("b", "c")) === -1.0)
    intercept[IllegalArgumentException] {
      NumericProfile.corrMatrix(df, Seq("a"))
    }
  }

  test("FD audit: holds/violations quantified; null lhs out, null rhs in") {
    import spark.implicits._
    import graft.validate.Dependence
    val df = Seq(
      (Some(1L), "a", Some("x")), (Some(1L), "a", Some("y")), // k→attr2 2-way
      (Some(2L), "b", Some("x")), (Some(2L), "b", Some("x")), // consistent
      (Some(3L), "c", None),      (Some(3L), "c", Some("x")), // NULL variant
      (None,     "d", Some("z"))                              // no key: out
    ).toDF("k", "attr1", "attr2")
    val out = Dependence.fdAudit(df,
        Seq("k" -> "attr1", "k" -> "attr2"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // k→attr1 holds over the 3 non-null keys
    assert(out("k->attr1") === ((3L, 0L, 1L, true)))
    // k→attr2: keys 1 (x,y) and 3 (NULL,x) violate; worst has 2 variants
    assert(out("k->attr2") === ((3L, 2L, 2L, false)))
  }

  test("benford: decimal-string digit extraction survives the edges") {
    import spark.implicits._
    import graft.validate.NumericProfile
    // powers of ten stay digit 1 (no float-log10 misround), negatives
    // use |x|'s digit, 0.05 -> 5, |x| < 0.005 and NULL drop out
    val df = Seq(Some(1000.0), Some(10.0), Some(-123.45), Some(0.05),
      Some(0.001), Some(900.0), None).toDF("v")
    val out = NumericProfile.benford(df, "v").orderBy($"digit")
      .collect()
    val byDigit = out.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byDigit === Map(1 -> 3L, 5 -> 1L, 9 -> 1L))
    val d1 = out.find(_.getInt(0) == 1).get
    assert(d1.getAs[Double]("share") === 0.6)
    assert(math.abs(d1.getAs[Double]("expected") - 0.30103) < 1e-6)
  }
}
