package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Native CosineSimilarity expression vs the composed HOF baseline. */
class CosineExprSpec extends SparkSpec {

  test("SQL surface: extensions register cosine_similarity / dot_product") {
    val row = spark.sql(
      """SELECT round(cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)), 6) AS c,
        |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""".stripMargin)
      .collect().head
    assert(row.getDouble(0) === 1.0)
    assert(row.getDouble(1) === 11.0)
  }
  import spark.implicits._

  test("native expression matches HOF form on real embeddings") {
    val e = Tables.load(spark, sf0001, "embeddings").limit(50)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val pairs = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
    val diff = pairs.select(
      abs(Dedup.cosine($"a.v", $"b.v") -
        Dedup.cosineHof($"a.v", $"b.v")).as("d"))
      .agg(max($"d")).head().getDouble(0)
    assert(diff < 1e-12)
  }

  test("float arrays cast implicitly; nulls propagate") {
    val e = Tables.load(spark, sf0001, "embeddings").limit(2)
    val c = e.as("a").crossJoin(e.as("b"))
      .select(Dedup.cosine($"a.embedding", $"b.embedding").as("c"))
    assert(c.collect().forall(r => !r.isNullAt(0)))
    val withNull = Seq((Some(Array(1.0, 2.0)), None: Option[Array[Double]]))
      .toDF("a", "b")
    assert(withNull.select(Dedup.cosine($"a", $"b")).head().isNullAt(0))
  }

  test("unaccent strips diacritics, keeps base text, compiles to codegen") {
    import org.apache.spark.sql.graftx.Unaccent
    // eval path semantics
    assert(Unaccent.strip("café naïve piñata über Ångström") ===
      "cafe naive pinata uber Angstrom")
    assert(Unaccent.strip("plain ascii 123") === "plain ascii 123")
    // codegen path gives the same answers as eval
    val df = Seq("café", "naïve", "piñata", "über", "Ångström", "plain")
      .toDF("s").select($"s", Unaccent($"s").as("p"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("café" -> "cafe", "naïve" -> "naive",
      "piñata" -> "pinata", "über" -> "uber", "Ångström" -> "Angstrom",
      "plain" -> "plain"))
    // null propagates; SQL surface resolves
    val withNull = Seq(Option.empty[String]).toDF("s")
    assert(withNull.select(Unaccent($"s")).head().isNullAt(0))
    assert(spark.sql("SELECT unaccent('résumé') AS r").head().getString(0)
      === "resume")
    // stays inside whole-stage codegen — no fallback (probe over a
    // parquet scan; a local Seq collapses to LocalTableScan, no codegen)
    import org.apache.spark.sql.execution.debug._
    val onTable = Tables.load(spark, sf0001, "customer")
      .select(Unaccent(translate(lower($"c_name"), "aeioun", "áéíóüñ")))
    val gen = codegenString(onTable.queryExecution.executedPlan)
    assert(gen.contains("NON_SPACING_MARK"), gen.take(2000))
    assert(!gen.contains("CodegenFallback"), gen.take(2000))
  }

  test("expression compiles into whole-stage generated code (doGenCode)") {
    import org.apache.spark.sql.execution.debug._
    val e = Tables.load(spark, sf0001, "embeddings")
      .select($"embedding".cast("array<double>").as("v"))
      .select(Dedup.cosine($"v", $"v").as("c"))
    val gen = codegenString(e.queryExecution.executedPlan)
    // the fused loop from doGenCode, not a CodegenFallback call
    assert(gen.contains("numElements"), gen.take(2000))
    assert(gen.contains("Math.sqrt"), gen.take(2000))
    assert(!gen.contains("CodegenFallback"), gen.take(2000))
  }
}
