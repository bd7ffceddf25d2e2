package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** PLAN-structure regression gate — the structural twin of [[IoGate]].
  *
  * IoGate budgets measured shuffle BYTES (needs a bench run at sf0.1);
  * this gate budgets the plan SHAPE itself, which is SF-independent:
  * per query, a fingerprint of the operator counts that matter at
  * 100 TB —
  *
  *   - `exchange`  : `Exchange hashpartitioning` / `rangepartitioning`
  *                   occurrences (each is a full shuffle of its input)
  *   - `broadcast` : `BroadcastExchange` (fine at any SF by definition
  *                   — the build side is bounded — so budget-tracked
  *                   but not gated)
  *   - `cartesian` : `CartesianProduct` + `BroadcastNestedLoopJoin`
  *                   (gated to NEVER appear where the budget has none)
  *   - `window`    : `Window` operators (each implies a partitioned
  *                   sort inside its exchange)
  *
  * The gate fails (exit 1) when a query GROWS its shuffle count, gains
  * a cartesian/nested-loop, or gains a window over the committed
  * `PLAN_BUDGET.json` — the exact class of silent regression where a
  * refactor stays correct and fast at test SF but re-shuffles 100 TB
  * at deploy. Broadcast-count changes print as notices only (AQE
  * legitimately flips shuffle joins to broadcast at small SF).
  *
  * It also fails on two absolute plan-hygiene [[flags]], whatever the
  * budget says, and on a budgeted query that no longer builds (missing
  * from the catalog, or throwing while it plans).
  *
  * Cost: the gate builds each plan by calling the query's function at
  * `SPARK_GRAFT_SF_DIR` (default sf0.01), so it pays for everything a
  * query does before it returns its frame, not just plan compilation:
  * every `stream_*` query runs its staging and its whole stream, and
  * the index-build and operator-writer queries write their outputs.
  * The full gate takes minutes (about 2.5 min wall on 4 vCPUs).
  *
  * Run: `sbt "runMain graft.PlanGate"`        — gate
  *      `sbt "runMain graft.PlanGate update"` — rewrite PLAN_BUDGET.json
  */
object PlanGate {
  private val BudgetFile = "PLAN_BUDGET.json"

  final case class Fp(exchange: Int, broadcast: Int, cartesian: Int,
      window: Int)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The budget file's text: one fingerprint per query, names sorted. */
  def budgetJson(budget: Map[String, Fp]): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(
      new java.util.TreeMap[String, java.util.Map[String, Int]](
        budget.map { case (n, f) => n -> Map("exchange" -> f.exchange,
          "broadcast" -> f.broadcast, "cartesian" -> f.cartesian,
          "window" -> f.window).to(scala.collection.immutable.VectorMap)
          .asJava }.asJava)) + "\n"

  /** [[budgetJson]]'s inverse. */
  def readBudget(json: String): Map[String, Fp] =
    mapper.readTree(json).properties().asScala.map { e =>
      e.getKey -> Fp(e.getValue.get("exchange").asInt(),
        e.getValue.get("broadcast").asInt(),
        e.getValue.get("cartesian").asInt(),
        e.getValue.get("window").asInt())
    }.toMap

  private def count(p: String, re: String): Int =
    re.r.findAllIn(p).size

  def fingerprint(plan: String): Fp = Fp(
    exchange = count(plan, "Exchange (hash|range)partitioning"),
    broadcast = count(plan, "BroadcastExchange"),
    cartesian = count(plan, "CartesianProduct") +
      count(plan, "BroadcastNestedLoopJoin"),
    window = count(plan, "\\bWindow(GroupLimit)? \\["))

  private val GlobalWindow = "Window \\[[^\\]]*\\], \\[\\]".r

  /** Plan shapes that don't survive scale, flagged in any query:
    *
    *  - `CartesianProduct`: an unintended cross join (the theta join is
    *    supposed to be a BroadcastNestedLoopJoin over an aggregated
    *    side, never a cartesian of two big inputs);
    *  - `GlobalWindow`: a window function with an EMPTY partition spec —
    *    the whole dataset sorts on one task.
    *
    * `Exchange SinglePartition` is NOT flagged: global scalar aggregates
    * legitimately converge their per-task partial rows (one row each)
    * on a single partition — that's bytes, not data. */
  def flags(plan: String): Seq[String] = Seq(
    "CartesianProduct" -> plan.contains("CartesianProduct"),
    "GlobalWindow" -> GlobalWindow.findFirstIn(plan).isDefined
  ).collect { case (flag, true) => flag }

  /** One gate verdict line: `FAIL`, `NEW` or `note`. */
  final case class Finding(kind: String, name: String, detail: String) {
    def fails: Boolean = kind == "FAIL"
    override def toString: String = f"[plangate] $kind%-5s $name: $detail"
  }

  /** Judges each query's physical plan (`Right`) or planning error
    * (`Left`) against the budget. A budgeted query with no plan at all
    * — renamed away or dropped from the catalog — fails like one that
    * throws. */
  def judge(budget: Map[String, Fp],
      plans: Map[String, Either[String, String]]): Seq[Finding] =
    (budget.keySet ++ plans.keySet).toSeq.sorted.flatMap { name =>
      (budget.get(name), plans.get(name)) match {
        case (_, None) =>
          Seq(Finding("FAIL", name, "does not build: not in the catalog"))
        case (_, Some(Left(err))) =>
          Seq(Finding("FAIL", name, s"does not build: $err"))
        case (budgeted, Some(Right(plan))) =>
          val f = fingerprint(plan)
          val fails = budgeted.toSeq.flatMap { b =>
            Seq(
              (f.exchange > b.exchange,
                s"shuffles ${b.exchange}→${f.exchange}"),
              (f.cartesian > b.cartesian,
                s"cartesian/nested-loop ${b.cartesian}→${f.cartesian}"),
              (f.window > b.window, s"windows ${b.window}→${f.window}"))
              .collect { case (true, msg) => msg }
          } ++ flags(plan)
          if (fails.nonEmpty) Seq(Finding("FAIL", name, fails.mkString(", ")))
          else budgeted match {
            case None =>
              Seq(Finding("NEW", name, "not budgeted — re-run update"))
            case Some(b) if f.broadcast != b.broadcast =>
              Seq(Finding("note", name,
                s"broadcasts ${b.broadcast}→${f.broadcast}"))
            case _ => Nil
          }
      }
    }

  private def plans(
      spark: SparkSession): Map[String, Either[String, String]] = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    graft.queries.Catalog.queries.map { case (name, fn) =>
      name -> (try Right(fn(spark, dir).queryExecution.executedPlan.toString)
        catch { case e: Throwable =>
          Left(String.valueOf(e).linesIterator.nextOption().getOrElse(""))
        })
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Session("graft-plangate")
    spark.sparkContext.setLogLevel("ERROR")
    val current = plans(spark)
    spark.stop()

    if (args.headOption.contains("update")) {
      val broken = current.collect { case (n, Left(err)) => s"$n: $err" }
      if (broken.nonEmpty) {
        broken.toSeq.sorted.foreach(b => println(s"[plangate] FAIL  $b"))
        println(s"[plangate] ${broken.size} queries do not build; " +
          s"$BudgetFile left unchanged")
        sys.exit(1)
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(BudgetFile),
        budgetJson(current.collect { case (n, Right(p)) =>
          n -> fingerprint(p) }))
      println(s"[plangate] wrote $BudgetFile (${current.size} queries)")
      return
    }

    val budgetPath = java.nio.file.Paths.get(BudgetFile)
    require(java.nio.file.Files.exists(budgetPath),
      s"$BudgetFile missing — run `graft.PlanGate update` on a good build")
    val budget = readBudget(java.nio.file.Files.readString(budgetPath))
    val findings = judge(budget, current)
    findings.foreach(println)
    val bad = findings.count(_.fails)
    println(s"[plangate] done, ${current.count(_._2.isRight)} built, " +
      s"$bad regressions")
    if (bad > 0) sys.exit(1)
  }
}
