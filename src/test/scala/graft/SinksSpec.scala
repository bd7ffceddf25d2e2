package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sinks.Sinks

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_sink").toString

  test("K1/K6 append and replace loads (base_loaders.py:46-72)") {
    val dir = tmp()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Sinks.load(df, s"$dir/t") == 2)
    assert(Sinks.load(df, s"$dir/t") == 2) // append
    assert(spark.read.parquet(s"$dir/t").count() == 4)
    Sinks.load(df, s"$dir/t", ifExists = "replace")
    assert(spark.read.parquet(s"$dir/t").count() == 2)
  }

  test("K4 upsert: insert + update with column precedence (base_loaders.py:149-181)") {
    val dir = tmp()
    val path = s"$dir/users"
    val initial = Seq((1L, "John", "old@x.com"), (2L, "Jane", "j@x.com"))
      .toDF("user_id", "name", "email")
    val (i1, u1) = Sinks.upsert(spark, path, initial, "user_id")
    assert((i1, u1) == (2L, 0L))
    val updates = Seq((1L, "Johnny", "new@x.com"), (3L, "Bob", "b@x.com"))
      .toDF("user_id", "name", "email")
    val (i2, u2) = Sinks.upsert(spark, path, updates, "user_id")
    assert((i2, u2) == (1L, 1L))
    val out = spark.read.parquet(path)
    assert(out.count() == 3)
    val john = out.where($"user_id" === 1).head()
    assert(john.getAs[String]("name") == "Johnny")
    assert(john.getAs[String]("email") == "new@x.com")
    assert(john.getAs[String]("updated_at") != null) // stamped on update
    val jane = out.where($"user_id" === 2).head()
    assert(jane.getAs[String]("name") == "Jane")
    assert(jane.getAs[String]("updated_at") == null)
  }

  test("K4 upsert adds new columns from updates") {
    val dir = tmp()
    val path = s"$dir/t"
    Sinks.upsert(spark, path, Seq((1L, "a")).toDF("id", "v"), "id",
      stampUpdatedAt = false)
    Sinks.upsert(spark, path,
      Seq((1L, "a2", 9.5)).toDF("id", "v", "score"), "id",
      stampUpdatedAt = false)
    val out = spark.read.parquet(path)
    assert(out.columns.toSet == Set("id", "v", "score"))
    assert(out.head().getAs[Double]("score") == 9.5)
  }

  test("K9 time-range delete via rewrite (influx_connector.py:274-291)") {
    val dir = tmp()
    val path = s"$dir/ts"
    val df = Seq("2024-01-01 05:00:00", "2024-01-02 05:00:00",
      "2024-01-03 05:00:00").toDF("s")
      .select(to_timestamp($"s").as("time"), lit(1.0).as("v"))
    df.write.parquet(path)
    val deleted = Sinks.deleteTimeRange(spark, path, "time",
      "2024-01-02 00:00:00", "2024-01-03 00:00:00")
    assert(deleted == 1)
    assert(spark.read.parquet(path).count() == 2)
  }

  test("compaction collapses small files, keeps every row, swaps atomically") {
    val dir = tmp()
    val path = s"$dir/frag"
    val base = Tables.load(spark, sf0001, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
    base.repartition(40).write.parquet(path) // 40 tiny files
    val totalOrder = Seq($"l_orderkey", $"l_linenumber", $"l_quantity")
    val before = base.orderBy(totalOrder: _*).collect()
    val (nBefore, nAfter) = Sinks.compact(spark, path, targetBytes = 1L << 26)
    assert(nBefore >= 40, s"expected fragmented input, got $nBefore")
    assert(nAfter <= 2, s"expected compacted output, got $nAfter")
    val after = spark.read.parquet(path)
      .orderBy(totalOrder: _*).collect()
    assert(after.toSeq === before.toSeq)
  }

  test("K5 points load: auto-fields are numeric non-tag non-time (base_loaders.py:207-256)") {
    val df = Seq((1L, "h1", 0.5, 17L, "ignore"))
      .toDF("time", "host", "cpu", "mem", "note")
    val pts = Sinks.pointsFrame(df, "sys", "time", Seq("host"))
    assert(pts.columns.toSeq ==
      Seq("time", "measurement", "tag_host", "field", "value"))
    val fields = pts.select("field").as[String].collect().sorted.toSeq
    assert(fields == Seq("cpu", "mem")) // note: string excluded
    assert(pts.count() == 2)
  }

  test("K7 multi-target with failure isolation (base_loaders.py:326-373)") {
    val dir = tmp()
    val stats = new Sinks.LoadStats
    val df = Seq((1L, "a")).toDF("id", "v")
    val results = Sinks.multiTarget(df, Seq(
      "parquet" -> ((d: org.apache.spark.sql.DataFrame) =>
        Sinks.load(d, s"$dir/ok")),
      "broken" -> ((_: org.apache.spark.sql.DataFrame) =>
        throw new RuntimeException("target down"))), Some(stats))
    assert(results("parquet").status == "success")
    assert(results("broken").status == "error")
    assert(stats.loaded == 1 && stats.failed == 1)
  }

  test("K8 content-based routing: one persist, filtered writes (base_loaders.py:395-436)") {
    val dir = tmp()
    val df = Seq(
      ("transactions", 1L), ("orders", 2L), ("events", 3L),
      ("user_profiles", 4L), ("logs", 5L))
      .toDF("_source", "id")
    val results = Sinks.routeAndLoad(df, Sinks.standardRoutes(dir))
    assert(results("financial_data").count == 2)
    assert(results("processed_events").count == 2)
    assert(results("user_data_wh").count == 1)
    assert(results("user_data_doc").count == 1)
    assert(results("archive").count == 5)
    assert(spark.read.parquet(s"$dir/archive").count() == 5)
  }

  private def routedInput(): org.apache.spark.sql.DataFrame = {
    val path = s"${tmp()}/in"
    Seq(("transactions", 1L), ("orders", 2L), ("events", 3L),
      ("user_profiles", 4L), ("logs", 5L)).toDF("_source", "id")
      .coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  test("K8 routing scans its input once and labels every route write") {
    import org.apache.spark.graftx.JobProbe
    val dir = tmp()
    val routes = Sinks.standardRoutes(dir)
    // counts every source row the routes' writes compute
    val scanned = spark.sparkContext.longAccumulator("routed_rows")
    val tick = udf { (id: Long) => scanned.add(1); id }.asNondeterministic()
    val input = routedInput().withColumn("id", tick($"id"))
    val (results, probe) = JobProbe(spark.sparkContext)(
      Sinks.routeAndLoad(input, routes))
    assert(results.values.forall(_.status == "success"))
    assert(results("archive").count == 5 && results("financial_data").count == 2)
    assert(scanned.value == 5, s"source computed ${scanned.value} rows for 5")
    assert(probe.descriptions.toSet == routes.map(r => s"route:${r.name}").toSet,
      probe.descriptions)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("K8 routing: a throwing route is an error, the other routes land") {
    val dir = tmp()
    val broken = Sinks.Route("broken", lit(true),
      _ => throw new RuntimeException("target down"))
    val stats = new Sinks.LoadStats
    val routes = Sinks.standardRoutes(dir) :+ broken
    val results = Sinks.routeAndLoad(routedInput(), routes, Some(stats))
    assert(results("broken") ==
      Sinks.LoadResult("broken", "error", 0L, Some("target down")))
    assert(results.size == 6)
    assert(results.removed("broken").values.forall(_.status == "success"))
    assert(stats.history.map(_.target) == routes.map(_.name)) // route order
    assert(spark.read.parquet(s"$dir/archive").count() == 5)
    assert(spark.read.parquet(s"$dir/processed_events").count() == 2)
  }

  test("K8 routing: every route write runs in the caller's scheduler pool") {
    import org.apache.spark.graftx.JobProbe
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", "etl_routes")
    val probe =
      try JobProbe(sc)(Sinks.routeAndLoad(routedInput(),
        Sinks.standardRoutes(tmp())))._2
      finally sc.setLocalProperty("spark.scheduler.pool", prev)
    val routeJobs = probe.jobs.filter(p =>
      Option(p.getProperty("spark.job.description")).exists(_.startsWith("route:")))
    assert(routeJobs.size >= Sinks.standardRoutes("x").size)
    assert(routeJobs.forall(_.getProperty("spark.scheduler.pool") == "etl_routes"))
  }

  test("routing and multi-target reject duplicate route names before writing") {
    val dir = tmp()
    val df = Seq(("events", 1L)).toDF("_source", "id")
    val twice = Seq(
      Sinks.Route("a", lit(true), d => Sinks.load(d, s"$dir/a1")),
      Sinks.Route("a", lit(true), d => Sinks.load(d, s"$dir/a2")))
    intercept[IllegalArgumentException](Sinks.routeAndLoad(df, twice))
    intercept[IllegalArgumentException](Sinks.multiTarget(df,
      twice.map(r => r.name -> r.sink)))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/a1")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/a2")))
  }

  test("K10 load statistics registry (base_loaders.py:438-451)") {
    val stats = new Sinks.LoadStats
    stats.record(Sinks.LoadResult("a", "success", 10))
    stats.record(Sinks.LoadResult("b", "error", 0, Some("x")))
    assert(stats.loaded == 10 && stats.failed == 1)
    assert(stats.toDF(spark).count() == 2)
  }

  test("date-partitioned layout prunes partitions on read") {
    val dir = Files.createTempDirectory("graft_part").toString
    val events = Tables.load(spark, sf0001, "events")
    val n = Sinks.loadPartitionedByDate(events, dir, "ts",
      sourceCol = Some("event_type"))
    assert(n == events.count())

    val oneDay = spark.read.parquet(dir)
      .filter($"_date" === "2024-01-02" && $"_source_part" === "click")
    val scan = oneDay.queryExecution.executedPlan.toString
    // static partition pruning: the predicate lands in PartitionFilters,
    // not PushedFilters/post-scan filter
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.contains("_date"), scan)
    // pruned read returns exactly the batch-filtered subset
    val expected = events.filter(to_date($"ts") === "2024-01-02" &&
      $"event_type" === "click").count()
    assert(oneDay.count() == expected && expected > 0)
  }

  test("exactlyOnce: a replayed batchId applies at most once") {
    val dir = tmp()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val writer = Sinks.exactlyOnce(s"$dir/_ledger") { (batch, _) =>
      Sinks.load(batch, s"$dir/t"); ()
    }
    writer(df, 0L)
    writer(df, 0L) // restart replay of the committed batch: no-op
    assert(spark.read.parquet(s"$dir/t").count() == 2)
    writer(df, 1L) // a genuinely new batch still applies
    assert(spark.read.parquet(s"$dir/t").count() == 4)
  }

  test("deleteKeys removes exactly the erasure list, broadcast-anti") {
    val dir = tmp()
    val path = s"$dir/t"
    Tables.load(spark, sf0001, "customer").write.parquet(path)
    val total = spark.read.parquet(path).count()
    val erasure = Seq(3L, 7L, 11L, 999999L).toDF("c_custkey") // one absent
    val removed = Sinks.deleteKeys(spark, path, "c_custkey", erasure)
    assert(removed == 3)
    val after = spark.read.parquet(path)
    assert(after.count() == total - 3)
    assert(after.filter($"c_custkey".isin(3L, 7L, 11L)).count() == 0)
    // second pass is a no-op (idempotent)
    assert(Sinks.deleteKeys(spark, path, "c_custkey", erasure) == 0)
  }

  test("codec override: zstd writes smaller files than snappy") {
    import scala.jdk.CollectionConverters._
    def bytes(p: String): Long =
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet"))
        .map(java.nio.file.Files.size).sum
    val dir = tmp()
    val li = Tables.load(spark, sf0001, "lineitem").coalesce(1)
    assert(Sinks.load(li, s"$dir/snappy", codec = Some("snappy")) ==
      Sinks.load(li, s"$dir/zstd", codec = Some("zstd")))
    val (s, z) = (bytes(s"$dir/snappy"), bytes(s"$dir/zstd"))
    assert(z < s, s"zstd $z should beat snappy $s")
    // content identical after the codec round-trip
    assert(spark.read.parquet(s"$dir/zstd").count() == li.count())
  }

  test("versioned writes: time travel, latest-wins, uncommitted invisible, vacuum") {
    val path = s"${tmp()}/t"
    val v0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val v1 = Seq((1L, "a2"), (3L, "c")).toDF("id", "v")
    assert(Sinks.Versioned.write(v0, path) == 0L)
    assert(Sinks.Versioned.write(v1, path) == 1L)
    // latest = v1; explicit version = time travel
    assert(Sinks.Versioned.read(spark, path).orderBy("id")
      .collect().map(_.getString(1)).toSeq == Seq("a2", "c"))
    assert(Sinks.Versioned.read(spark, path, Some(0L)).orderBy("id")
      .collect().map(_.getString(1)).toSeq == Seq("a", "b"))
    // a half-written version (no _SUCCESS) is invisible to readers
    val half = java.nio.file.Paths.get(s"$path/v=2")
    java.nio.file.Files.createDirectories(half)
    java.nio.file.Files.writeString(half.resolve("junk.parquet"), "x")
    assert(Sinks.Versioned.versions(path) == Seq(0L, 1L))
    assert(Sinks.Versioned.read(spark, path).count() == 2) // still v1
    // ...but the next write lands BESIDE the crashed directory (v=3),
    // never on it — a crashed writer cannot brick the table
    assert(Sinks.Versioned.write(v0, path) == 3L)
    assert(Sinks.Versioned.versions(path) == Seq(0L, 1L, 3L))
    java.nio.file.Files.delete(half.resolve("junk.parquet"))
    java.nio.file.Files.delete(half)
    // vacuum keeps the newest, removes the rest
    assert(Sinks.Versioned.vacuum(path, keep = 1) == Seq(0L, 1L))
    assert(Sinks.Versioned.versions(path) == Seq(3L))
    intercept[IllegalArgumentException] {
      Sinks.Versioned.read(spark, path, Some(0L))
    }
  }

  test("versioned diff: added/removed/changed classified, NULL position counts") {
    val path = s"${tmp()}/t"
    val v0 = Seq((1L, Some("a"), Option.empty[String]),
      (2L, Some("b"), Some("x")), (3L, Some("c"), Some("y")))
      .toDF("id", "c1", "c2")
    val v1 = Seq((2L, Some("b"), Some("x")),          // unchanged
      (3L, Some("c2"), Some("y")),                    // changed value
      (4L, Some("d"), Some("z")),                     // added
      (5L, Option.empty[String], Some("a")))          // (new, null c1)
      .toDF("id", "c1", "c2")
    Sinks.Versioned.write(v0, path)
    Sinks.Versioned.write(v1, path)
    val d = Sinks.Versioned.diff(spark, path, "id", 0L, 1L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "removed", 3L -> "changed", 4L -> "added",
      5L -> "added"))
    // rows differing only in WHICH column is NULL classify as changed
    val p2 = s"${tmp()}/u"
    Sinks.Versioned.write(
      Seq((1L, Some("x"), Option.empty[String])).toDF("id", "c1", "c2"), p2)
    Sinks.Versioned.write(
      Seq((1L, Option.empty[String], Some("x"))).toDF("id", "c1", "c2"), p2)
    val d2 = Sinks.Versioned.diff(spark, p2, "id", 0L, 1L).collect()
    assert(d2.length == 1 && d2(0).getString(1) == "changed")
  }

  test("contentChecksum encodes NULL position (no concat_ws collision)") {
    // rows differ only in WHICH column is null; with bare concat_ws both
    // canonicalize to "x" and the checksums would collide
    val a = Seq((Some("x"), Option.empty[String])).toDF("c1", "c2")
    val b = Seq((Option.empty[String], Some("x"))).toDF("c1", "c2")
    val ca = Sinks.contentChecksum(a, Seq("c1", "c2")).collect().head.getLong(1)
    val cb = Sinks.contentChecksum(b, Seq("c1", "c2")).collect().head.getLong(1)
    assert(ca != cb, "null position must change the checksum")
    // order-independence is preserved
    val two = Seq((1L, "p"), (2L, "q")).toDF("id", "v")
    val swapped = Seq((2L, "q"), (1L, "p")).toDF("id", "v")
    assert(Sinks.contentChecksum(two, Seq("id", "v")).collect().head ==
      Sinks.contentChecksum(swapped, Seq("id", "v")).collect().head)
  }

  test("writeAuditPublish: veto and audit-crash leave the live table intact") {
    import java.nio.file.{Files, Paths}
    val path = Files.createTempDirectory("graft_wap_spec").toString + "/t"
    val good = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val bad = Seq((3L, -1.0)).toDF("k", "v")
    def noNegatives(df: org.apache.spark.sql.DataFrame): Option[String] = {
      val n = df.filter($"v" < 0).count()
      if (n > 0) Some(s"$n negative rows") else None
    }
    // clean publish goes live
    assert(Sinks.writeAuditPublish(spark, good, path, noNegatives) ==
      Right(2L))
    assert(spark.read.parquet(path).count() == 2)
    // vetoed publish: live table untouched, staging cleaned up
    val veto = Sinks.writeAuditPublish(spark, bad, path, noNegatives)
    assert(veto.isLeft && veto.swap.toOption.get.contains("negative"))
    assert(spark.read.parquet(path).count() == 2)
    assert(!Files.exists(Paths.get(path + ".__staging__")))
    // an audit that THROWS is a veto, not a publish
    val crash = Sinks.writeAuditPublish(spark, good, path,
      _ => throw new IllegalStateException("boom"))
    assert(crash.isLeft && crash.swap.toOption.get.contains("boom"))
    assert(spark.read.parquet(path).count() == 2)
  }

  test("JdbcSink: live distributed upsert — update vs insert split, idempotent, null-safe") {
    import org.apache.spark.sql.types._
    import graft.sinks.JdbcSink
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = "jdbc:derby:memory:graft_sink_spec;create=true"
    val drv = "org.apache.derby.jdbc.EmbeddedDriver"
    val schema = StructType(Seq(StructField("ID", LongType),
      StructField("V", StringType), StructField("N", DoubleType)))
    JdbcSink.ensureTable(url, drv, "T", schema, Seq("ID"), reset = true)
    def readBack() = graft.sources.JdbcSource(url, "T",
      driver = Some(drv)).load(spark).orderBy("ID").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))

    // batch 1: all inserts (3 keys, 7 partitions exercises repartition)
    val b1 = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("ID", "V", "N").repartition(7)
    JdbcSink.upsert(b1, url, drv, "T", Seq("ID"))
    assert(readBack().toSeq == Seq((1L, "a", 1.0), (2L, "b", 2.0),
      (3L, "c", 3.0)))

    // batch 2: key 2 updates (incl. a NULL value), key 9 inserts,
    // keys 1/3 untouched
    val b2 = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(2L, "B2", null),
        org.apache.spark.sql.Row(9L, "i", 9.0)), schema)
    JdbcSink.upsert(b2, url, drv, "T", Seq("ID"))
    assert(readBack().toSeq == Seq((1L, "a", 1.0), (2L, "B2", null),
      (3L, "c", 3.0), (9L, "i", 9.0)))

    // idempotence: replaying batch 2 converges to the same state
    // (the exactly-once half the streaming checkpoint relies on)
    JdbcSink.upsert(b2, url, drv, "T", Seq("ID"))
    assert(readBack().length == 4 && JdbcSink.count(url, drv, "T") == 4L)

    // ensureTable without reset preserves rows; with reset clears
    JdbcSink.ensureTable(url, drv, "T", schema, Seq("ID"))
    assert(JdbcSink.count(url, drv, "T") == 4L)
    JdbcSink.ensureTable(url, drv, "T", schema, Seq("ID"), reset = true)
    assert(JdbcSink.count(url, drv, "T") == 0L)

    // guards: missing key column, no value columns
    intercept[IllegalArgumentException] {
      JdbcSink.upsert(b1, url, drv, "T", Seq("NOPE"))
    }
    intercept[IllegalArgumentException] {
      JdbcSink.upsert(b1.select("ID"), url, drv, "T", Seq("ID"))
    }
  }
}
