package graft

/** Fingerprint extraction and budget verdicts of the plan-structure
  * gate. */
class PlanGateSpec extends SparkSpec {

  test("fingerprint counts the operators that matter at scale") {
    val plan =
      """AdaptiveSparkPlan
        |+- Exchange hashpartitioning(k, 8)
        |   +- Window [sum(v)], [k], [t ASC]
        |      +- Exchange rangepartitioning(t ASC, 8)
        |         +- BroadcastExchange HashedRelationBroadcastMode
        |            +- CartesianProduct
        |               +- WindowGroupLimit [k], [r ASC], rank, 5
        |""".stripMargin
    val f = PlanGate.fingerprint(plan)
    assert(f.exchange === 2)
    assert(f.broadcast === 1)
    assert(f.cartesian === 1)
    assert(f.window === 2) // Window + WindowGroupLimit
  }

  test("fingerprint of a live plan matches its visible structure") {
    val p = queries.Catalog.queries("q1_agg")(spark, sf001)
      .queryExecution.executedPlan.toString
    val f = PlanGate.fingerprint(p)
    // partial+final hash aggregate (1 hash exchange) + the judged
    // output ORDER BY (1 range exchange) — nothing else
    assert(f.exchange === 2, p)
    assert(f.cartesian === 0)
    assert(f.window === 0)
  }

  private val clean = """AdaptiveSparkPlan
    |+- Exchange hashpartitioning(k, 8)
    |   +- BroadcastHashJoin [k], [k], Inner, BuildRight
    |      :- Scan parquet lineitem
    |      +- BroadcastExchange HashedRelationBroadcastMode
    |         +- Scan parquet orders
    |""".stripMargin
  private val budget = Map("q" -> PlanGate.fingerprint(clean))

  test("judge: a budgeted query that is missing or throws fails") {
    val missing = PlanGate.judge(budget, Map.empty)
    assert(missing.map(f => (f.kind, f.name)) === Seq(("FAIL", "q")))
    assert(missing.head.detail.startsWith("does not build"))
    val threw = PlanGate.judge(budget, Map("q" -> Left("boom")))
    assert(threw.map(f => (f.kind, f.name)) === Seq(("FAIL", "q")))
    assert(threw.head.detail === "does not build: boom")
    assert(threw.forall(_.fails))
  }

  test("judge: cartesian and global-window flags fail whatever the " +
      "budget says") {
    val cartesian = "CartesianProduct\n:- Scan a\n+- Scan b"
    val globalWindow =
      "Window [rank(v) windowspecdefinition(v ASC)], [], [v ASC]"
    assert(PlanGate.flags(cartesian) === Seq("CartesianProduct"))
    assert(PlanGate.flags(globalWindow) === Seq("GlobalWindow"))
    assert(PlanGate.flags("Window [sum(v)], [k], [t ASC]") === Seq.empty)
    // budgeted with room for both, and not budgeted at all: still FAIL
    val roomy = Map("q" -> PlanGate.Fp(9, 9, 9, 9))
    for (plan <- Seq(cartesian, globalWindow);
         b <- Seq(roomy, Map.empty[String, PlanGate.Fp])) {
      val fs = PlanGate.judge(b, Map("q" -> Right(plan)))
      assert(fs.map(_.kind) === Seq("FAIL"), plan)
    }
  }

  test("judge: growth fails, a broadcast-only change is a note, " +
      "a match is silent") {
    assert(PlanGate.judge(budget, Map("q" -> Right(clean))) === Seq.empty)
    val noBroadcast =
      clean.replace("BroadcastExchange", "Exchange hashpartitioning(k, 8)")
    val grown = PlanGate.judge(budget, Map("q" -> Right(noBroadcast)))
    assert(grown.map(_.kind) === Seq("FAIL"))
    assert(grown.head.detail === "shuffles 1→2")
    val dropped = Map("q" -> PlanGate.Fp(1, 2, 0, 0))
    val note = PlanGate.judge(dropped, Map("q" -> Right(clean)))
    assert(note.map(f => (f.kind, f.detail)) ===
      Seq(("note", "broadcasts 2→1")))
    assert(!note.exists(_.fails))
    assert(PlanGate.judge(Map.empty, Map("q" -> Right(clean)))
      .map(_.kind) === Seq("NEW"))
  }

  test("budget files round-trip names with quotes and backslashes") {
    val odd = "q\"uote\\slash"
    val io = Map(odd -> 42L, "a_plain" -> 0L)
    assert(IoGate.readBudget(IoGate.budgetJson(io)) === io)
    val plan = Map(odd -> PlanGate.Fp(1, 2, 0, 3),
      "a_plain" -> PlanGate.Fp(0, 0, 0, 0))
    assert(PlanGate.readBudget(PlanGate.budgetJson(plan)) === plan)
  }
}
