package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.streaming.Streaming

/** Regression pin for event-time LAYOUT DRIFT: the lake's parquet
  * writer is outside this engine's control, and the `ts` column has
  * shipped as TIMESTAMP(NANOS) (reads as long ns under
  * `nanosAsLong`), µs-NTZ (reads as TIMESTAMP_NTZ), and µs-LTZ across
  * testdata generations. A reader that hardcodes any ONE layout
  * corrupts event time silently when the writer changes — the exact
  * failure mode this suite exists to catch: a 1000× time collapse
  * that turned a month of windows into one, emptied every
  * watermark-gated emission, and exploded a stream-stream join's
  * horizon. Batch and streaming paths must agree on one normalized
  * type (session-UTC TimestampType) for every layout. */
class EventTimeLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val epochUs = 1704067200000000L // 2024-01-01T00:00:00Z

  test("normalizeEventTime maps all three physical layouts to µs-LTZ") {
    // long nanoseconds (the nanosAsLong read shape): truncate to µs
    val fromNs = Tables.normalizeEventTime(
      Seq(epochUs * 1000L + 999L).toDF("ts"), "ts") // 999 sub-µs ns
    assert(fromNs.schema("ts").dataType == TimestampType)
    assert(fromNs.select(unix_micros($"ts")).head().getLong(0) == epochUs)

    // µs NTZ: pure reinterpretation under the pinned UTC session zone
    val fromNtz = Tables.normalizeEventTime(
      Seq(epochUs).toDF("us")
        .select(timestamp_micros($"us").cast(TimestampNTZType).as("ts")),
      "ts")
    assert(fromNtz.schema("ts").dataType == TimestampType)
    assert(fromNtz.select(unix_micros($"ts")).head().getLong(0) == epochUs)

    // already µs-LTZ: untouched
    val fromLtz = Tables.normalizeEventTime(
      Seq(epochUs).toDF("us").select(timestamp_micros($"us").as("ts")), "ts")
    assert(fromLtz.schema("ts").dataType == TimestampType)
    assert(fromLtz.select(unix_micros($"ts")).head().getLong(0) == epochUs)
  }

  test("readEventsAuto yields identical events from NTZ and LTZ lakes") {
    val events = Tables.load(spark, sf0001, "events")
      .orderBy($"event_id").limit(200)

    def stage(writeNtz: Boolean): String = {
      val dir = Files.createTempDirectory("graft_layout").toString
      val out =
        if (writeNtz) events.withColumn("ts", $"ts".cast(TimestampNTZType))
        else events
      out.write.mode("overwrite").parquet(s"$dir/events")
      s"$dir/events"
    }

    def collectAll(dir: String): Array[(Long, Long)] = {
      val df = Streaming.readEventsAuto(spark, dir)
      assert(df.schema("ts").dataType == TimestampType,
        "stream must normalize ts to µs-LTZ whatever the file layout")
      Streaming.replay(df.select($"event_id", unix_micros($"ts").as("us")))
        .as[(Long, Long)].collect().sortBy(_._1)
    }

    val fromLtz = collectAll(stage(writeNtz = false))
    val fromNtz = collectAll(stage(writeNtz = true))

    assert(fromLtz.length == 200 && fromNtz.length == 200)
    assert(fromLtz.sameElements(fromNtz),
      "NTZ and LTZ lakes must stream identical event times")
  }

  test("batch loader normalizes the raw testdata lake to µs-LTZ") {
    val ts = Tables.load(spark, sf0001, "events").schema("ts").dataType
    assert(ts == TimestampType,
      s"Tables.load must expose session-UTC TimestampType, got $ts")
  }
}
