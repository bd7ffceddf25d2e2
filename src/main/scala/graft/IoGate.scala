package graft

import scala.jdk.CollectionConverters._

/** IO regression gate: shuffle bytes are the scale currency — a query
  * whose plan quietly grows a new Exchange can stay fast at sf0.1 yet
  * die at 100 TB, so the gate budgets BYTES, not seconds (bytes are
  * deterministic per plan; seconds are noisy).
  *
  * `IO_BUDGET.json` (committed) maps query → allowed pass-1
  * shuffle-write bytes, captured from a known-good bench run. The gate
  * reads the current `BENCH_FULL.json` `io_pass1` block and fails
  * (exit 1) if any query shuffles more than `2 × budget + 4 MB` — 2×
  * for plan-level headroom (AQE coalescing and compression make bytes
  * wobble), the 4 MB floor so micro-queries can't trip it on noise. A
  * query missing from the budget (new this round) passes with a
  * notice; re-baseline intentional changes with `update`.
  *
  * Run: `sbt "runMain graft.IoGate"`        — gate (after a Bench run)
  *      `sbt "runMain graft.IoGate update"` — rewrite IO_BUDGET.json
  *                                            from BENCH_FULL.json
  */
object IoGate {
  private val BenchFile = "BENCH_FULL.json"
  private val BudgetFile = "IO_BUDGET.json"
  private val Headroom = 2.0
  private val FloorBytes = 4L * 1024 * 1024

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The budget file's text: one entry per query, names sorted. */
  def budgetJson(budget: Map[String, Long]): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(
      new java.util.TreeMap[String, Long](budget.asJava)) + "\n"

  /** [[budgetJson]]'s inverse. */
  def readBudget(json: String): Map[String, Long] =
    mapper.readTree(json).properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap

  private def shuffleWriteBytes(): Map[String, Long] = {
    val root = mapper.readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(BenchFile)))
    val io = root.get("io_pass1")
    require(io != null, s"$BenchFile has no io_pass1 — run graft.Bench first")
    io.properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("shuffle_w_mb").asDouble() * 1048576).toLong
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val current = shuffleWriteBytes()
    if (args.headOption.contains("update")) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(BudgetFile), budgetJson(current))
      println(s"[iogate] wrote $BudgetFile (${current.size} queries)")
      return
    }
    val budgetPath = java.nio.file.Paths.get(BudgetFile)
    require(java.nio.file.Files.exists(budgetPath),
      s"$BudgetFile missing — run `graft.IoGate update` on a good build")
    val budget = readBudget(java.nio.file.Files.readString(budgetPath))
    var bad = 0
    current.toSeq.sortBy(_._1).foreach { case (name, bytes) =>
      budget.get(name) match {
        case None =>
          println(f"[iogate] NEW   $name%-28s ${bytes / 1048576.0}%8.1f MB " +
            "(not budgeted — re-run update to baseline)")
        case Some(b) =>
          val cap = (b * Headroom).toLong + FloorBytes
          if (bytes > cap) {
            bad += 1
            println(f"[iogate] FAIL  $name%-28s ${bytes / 1048576.0}%8.1f MB " +
              f"> cap ${cap / 1048576.0}%.1f MB (budget ${b / 1048576.0}%.1f)")
          }
      }
    }
    println(s"[iogate] done, $bad regressions")
    if (bad > 0) sys.exit(1)
  }
}
