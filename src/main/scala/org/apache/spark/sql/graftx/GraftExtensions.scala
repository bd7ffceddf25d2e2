// Same package rationale as CosineSimilarity.scala: the expression
// constructors and FunctionRegistry builder types are private[sql].
package org.apache.spark.sql.graftx

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension carrying every graft Catalyst addition. It is
  * installed through `spark.sql.extensions`, which `graft.Session` sets
  * for every session it builds:
  *
  * {{{
  * val spark = graft.Session("my-app")
  * spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) ...")
  * }}}
  *
  * Catalyst injection points used:
  *  - `injectFunction` for six native expressions, so the pure-SQL
  *    surface (`spark.sql`, the reference's query-endpoint passthrough
  *    shape, src/api/main.py:154-221) can call them: `cosine_similarity`,
  *    `dot_product`, `unaccent`, `jaro_winkler`, `damerau_levenshtein`
  *    and the `space_saving_topk` aggregate;
  *  - `injectOptimizerRule` for [[DeferExpensiveProjection]] (late
  *    materialization of expensive projections through top-k) and
  *    [[MvRewrite]] (answers a matching aggregate from a registered
  *    rollup);
  *  - `injectPlannerStrategy` for [[TopKPerGroupStrategy]] (per-group
  *    top-k planned as partial → exchange → final).
  *
  * It also sets `spark.sql.codegen.cache.maxEntries`
  * ([[GraftExtensions.codegenCache]]): Spark's 100 classes are fewer
  * than one ETL cycle builds, so the LRU recompiled them every cycle.
  * That static conf is read once per JVM and must be on the context's
  * conf before `SharedState` is built; this extension runs at exactly
  * that point in every engine session, `graft.Session`'s or not.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[CosineSimilarity].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    SparkContext.getActive.foreach(sc => sc.conf.setIfMissing(
      GraftExtensions.CodegenCacheKey, GraftExtensions.codegenCache(sc.conf)))
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity",
        "_FUNC_(a, b) - cosine similarity of two double arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_similarity takes 2 arguments")
        CosineSimilarity(args(0), args(1))
      }: Expression))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product",
        "_FUNC_(a, b) - dot product of two double arrays"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product takes 2 arguments")
        DotProduct(args(0), args(1))
      }: Expression))
    ext.injectFunction((
      FunctionIdentifier("unaccent"),
      info("unaccent",
        "_FUNC_(s) - strip accents (NFD + drop combining marks)"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "unaccent takes 1 argument")
        Unaccent(args(0))
      }: Expression))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler",
        "_FUNC_(a, b) - Jaro-Winkler similarity in [0,1] (classic " +
          "0.7 boost threshold, prefix cap 4)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "jaro_winkler takes 2 arguments")
        JaroWinkler(args(0), args(1))
      }: Expression))
    ext.injectFunction((
      FunctionIdentifier("damerau_levenshtein"),
      info("damerau_levenshtein",
        "_FUNC_(a, b) - unrestricted Damerau-Levenshtein edit distance" +
          " (insert/delete/substitute/transpose)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "damerau_levenshtein takes 2 arguments")
        DamerauLevenshtein(args(0), args(1))
      }: Expression))
    ext.injectFunction((
      FunctionIdentifier("space_saving_topk"),
      info("space_saving_topk",
        "_FUNC_(item, capacity, k) - mergeable SpaceSaving top-k summary" +
          ": array of (item, cnt, err) structs, cnt desc"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "space_saving_topk takes 3 arguments")
        def lit(e: Expression, what: String): Int = {
          require(e.foldable, s"space_saving_topk $what must be a literal")
          e.eval(null) match {
            case i: Int => i
            case other => throw new IllegalArgumentException(
              s"space_saving_topk $what must be an int literal, got $other")
          }
        }
        SpaceSavingTopK(args.head, lit(args(1), "capacity"),
          lit(args(2), "k"))
      }: Expression))
    ext.injectOptimizerRule(_ => DeferExpensiveProjection)
    ext.injectOptimizerRule(_ => MvRewrite)
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
  }
}

object GraftExtensions {
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** The codegen cache size a session on `conf` gets: the caller's own
    * value, else 1000 classes (an ETL cycle's working set, and room). */
  def codegenCache(conf: SparkConf): String = conf.get(CodegenCacheKey, "1000")
}
