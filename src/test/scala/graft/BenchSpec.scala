package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.BeforeAndAfterAll

import graft.Bench.Probe

/** The measurement mains' shared pieces: the burst rule and the slope
  * exponent as pure functions, and [[Bench.Runner]] / [[Bench.Battery]]
  * driven over a two-query fake catalog in which one query throws. */
class BenchSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val runner = new Bench.Runner(spark, "bench")

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(runner.meter)
    super.afterAll()
  }

  test("burst rule: a bracketing probe above 2x its kind's run median " +
      "+ 0.1 s in a majority of passes flags the query") {
    val quiet = Probe(0.2, 0.02, 0.01)
    val names = Seq("a", "b", "c", "d")
    // per pass: a mid probe before query 2 and the pass-end probe
    def pass(p: Int, end: Probe) = Seq((p, 2, quiet), (p, 4, end))
    val cpuBurst = quiet.copy(cpu = 5.0)
    val readBurst = quiet.copy(read = 0.5)
    val (counts, flagged) = Bench.burstFlags(names, Seq.fill(3)(quiet),
      pass(1, cpuBurst) ++ pass(2, readBurst) ++ pass(3, quiet))
    // the end probe brackets c and d only, in two passes of three
    assert(counts === Map("c" -> 2, "d" -> 2))
    assert(flagged === Seq("c", "d"))

    // one burst pass of three is no majority
    val (once, none) = Bench.burstFlags(names, Seq.fill(3)(quiet),
      pass(1, cpuBurst) ++ pass(2, quiet) ++ pass(3, quiet))
    assert(once === Map("c" -> 1, "d" -> 1))
    assert(none.isEmpty)

    // above 2x the median but within the +0.1 s floor: not a burst
    val jitter = quiet.copy(cpu = 0.45)
    val (floor, _) = Bench.burstFlags(names, Seq.fill(3)(quiet),
      pass(1, jitter) ++ pass(2, jitter) ++ pass(3, jitter))
    assert(floor.isEmpty)

    assert(Bench.burstFlags(names, Nil, Nil) === ((Map.empty, Nil)))
  }

  test("slope exponent is log10(tHigh / tLow) per decade") {
    assert(Bench.exponent(1.0, 10.0, 1.0) === 1.0)
    assert(Bench.exponent(1.0, 100.0, 1.0) === 2.0)
    assert(Bench.exponent(2.0, 2.0, 1.0) === 0.0)
    assert(math.abs(Bench.exponent(0.5, 2.0, math.log10(4.0)) - 1.0) < 1e-12)
  }

  // "ok" persists a frame the run must drop; "boom" throws in its job
  private val catalog: Seq[(String, Bench.Query)] = Seq(
    "boom" -> ((s, _) => s.range(1).selectExpr("raise_error('boom') AS x")),
    "ok" -> { (s, _) =>
      val df = s.range(0, 1000).toDF("id").cache()
      df.count()
      df.selectExpr("sum(id) AS s")
    })

  test("a run times the query, meters it, and drops blocks after it; " +
      "a throwing query is failed and gets no time") {
    val ok = runner("ok", "pass 1", metered = true)(catalog(1)._2(spark, sf0001))
    assert(ok.secs.exists(_ > 0))
    assert(ok.io.exists(_.inputRows >= 0) && ok.jobs.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val boom = runner("boom", "pass 1")(catalog(0)._2(spark, sf0001))
    assert(boom.secs.isEmpty && boom.io.isEmpty && boom.jobs.isEmpty)
    assert(runner.failed.toSeq === Seq("boom"))
  }

  test("the battery writes one document with the keys the pin compare " +
      "and IoGate read, then each slope block's") {
    val out = Files.createTempFile("graft_bench", ".json")
    try {
      val battery = new Bench.Battery(runner, sf0001, catalog, out)
      battery.passes(1)
      val text = Files.readString(out)
      val doc = new ObjectMapper().readTree(text)
      def keys(n: JsonNode) = n.fieldNames().asScala.toSeq
      assert(keys(doc) === Seq("metric", "value", "unit", "reps", "cpus",
        "default_parallelism", "task_ms_total", "n_queries", "queries",
        "raw_passes", "io_pass1", "codegen_compiles",
        "shuffle_write_total_mb", "calibration", "calibration_io",
        "calibration_read", "calibration_timeline", "burst_flagged",
        "burst_pass_counts", "n_failed", "failures", "sf"))
      assert(keys(doc.get("queries")) === Seq("ok"))
      assert(text.matches("""(?s).*"queries":\{"ok":\d+\.\d{3}\}.*"""))
      assert(keys(doc.get("raw_passes")) === Seq("boom", "ok"))
      assert(doc.get("raw_passes").get("boom").size === 0)
      assert(doc.get("raw_passes").get("ok").size === 1)
      catalog.foreach { case (n, _) =>
        assert(keys(doc.get("io_pass1").get(n)) ===
          Seq("in_rows", "shuffle_r_mb", "shuffle_w_mb", "task_ms"))
      }
      assert(keys(doc.get("codegen_compiles")) === Seq("boom", "ok"))
      assert(doc.get("n_failed").asInt === 1)
      assert(doc.get("failures").get(0).asText === "boom")
      assert(doc.get("calibration").size === 1)
      assert(doc.get("calibration_timeline").size === 1) // the pass end
      assert(doc.get("sf").asText === sf0001)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)

      // sf0.001's sibling is sf0.01; as the big decade, sf0.01 again
      battery.siblingSlope()
      battery.bigDecade(sf001)
      val full = new ObjectMapper().readTree(Files.readString(out))
      assert(keys(full).drop(22) === Seq("slopes", "small_sf_secs",
        "calibration_slope", "superlinear", "slopes_sf1", "sf1_secs",
        "sf1_main_secs", "calibration_sf1", "sf1_dir", "superlinear_sf1"))
      assert(keys(full.get("slopes")) === Seq("ok"))
      assert(keys(full.get("small_sf_secs")) === Seq("ok"))
      assert(keys(full.get("small_sf_secs").get("ok")) === Seq("sf0.01"))
      assert(full.get("calibration_slope").size === 2)
      assert(keys(full.get("sf1_secs")) === Seq("ok"))
      assert(keys(full.get("sf1_main_secs")) === Seq("ok"))
      assert(full.get("calibration_sf1").size === 2)
      assert(full.get("sf1_dir").asText === sf001)
      assert(runner.failed.toSeq === Seq("boom"))
    } finally Files.deleteIfExists(out)
  }
}
