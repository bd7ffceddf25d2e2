package graft

/** The spec session is the deployment session: [[TestSpark]] differs
  * from what [[Session]] builds only in master and shuffle partitions,
  * so a hand-built test session, or a default the factory drops, fails
  * here. */
class SessionSpec extends SparkSpec {

  test("spec session carries graft.Session's defaults, apart from " +
      "master and shuffle partitions") {
    val defaults = Session.conf("graft-test") --
      Seq("spark.master", "spark.sql.shuffle.partitions")
    assert(defaults.keySet === Set("spark.app.name", "spark.scheduler.mode",
      "spark.sql.extensions", "spark.sql.session.timeZone",
      "spark.ui.enabled"))
    defaults.foreach { case (k, v) =>
      assert(spark.conf.getOption(k) === Some(v), k)
    }
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("shuffle partitions follow the master's cores") {
    assert(Session.cores("local[4]") === 4)
    assert(Session.cores("local[*]") === Session.cpus)
    assert(Session.conf("x", Map("spark.master" -> "local[3]"))
      .apply("spark.sql.shuffle.partitions") === "3")
    assert(Session.conf("x", Map("spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "7"))
      .apply("spark.sql.shuffle.partitions") === "7")
  }

  test("graft SQL functions resolve with no explicit registration") {
    // a new session starts from an empty function registry: only the
    // extension can have put these there
    val s = spark.newSession()
    val r = s.sql(
      """SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |       jaro_winkler('martha', 'marhta') AS jw,
        |       space_saving_topk(x, 8, 1)[0].item AS top
        |FROM VALUES ('a'), ('b'), ('a') AS v(x)""".stripMargin).head()
    assert(r.getDouble(0) === 1.0)
    assert(math.abs(r.getDouble(1) - 0.9611111111111111) < 1e-12)
    assert(r.getString(2) === "a")
  }
}
