package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.Streams
import graft.operators.TimeSeries

/** The flatMapGroupsWithState version monitor must agree with the batch
  * window formulation of the same semantics. */
class StreamStateSpec extends SparkSpec {
  import spark.implicits._

  test("stateful version monitor equals batch row_number + lag") {
    val got = Streams.versionMonitorStream(spark, sfDir)
      .select("user_id", "version", "ts_us", "value")
      .as[(Long, Long, Long, Double)].collect().toSet

    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val want = Tables.events(spark, sfDir)
      .withColumn("version", row_number().over(w).cast("long"))
      .select($"user_id", $"version", unix_micros($"ts").as("ts_us"), $"value")
      .as[(Long, Long, Long, Double)].collect().toSet

    assert(got == want && got.nonEmpty)
  }

  test("deltas match value differences between consecutive versions") {
    val rows = Streams.versionMonitorStream(spark, sfDir)
      .filter($"user_id" === 3L)
      .orderBy("version")
      .select("version", "value", "delta")
      .as[(Long, Double, Option[Double])].collect()
    assert(rows.head._3.isEmpty) // first version has no predecessor
    rows.sliding(2).foreach {
      case Array((_, v1, _), (_, v2, Some(d2))) =>
        assert(math.abs(d2 - (v2 - v1)) < 1e-12)
      case _ =>
    }
  }

  test("streaming dedup survivor report equals batch count-distinct") {
    val report = Streams.streamDedup(spark, sfDir)
    val got = report.select("event_type", "day", "n_unique")
      .as[(String, String, Long)].collect().toSet
    val want = Tables.events(spark, sfDir)
      .groupBy($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(countDistinct($"user_id").as("n_unique"))
      .as[(String, String, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    // the drained survivor table itself (on the drain session, where
    // the memory sink registered it) carries no duplicate keys
    val survivors = report.sparkSession.table("graft_ts26")
      .select("user_id", "event_type", "day").collect().toSeq
    assert(survivors.length == survivors.toSet.size)
  }

  test("streaming tumbling agg equals the batch operator") {
    val stream = graft.streaming.Streams.tumblingDailyStream(spark, sfDir)
      .select("event_type", "day", "n", "sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    val batch = TimeSeries.tumblingDaily(Tables.events(spark, sfDir),
        "event_type", "ts", "value")
      .select("event_type", "day", "n", "sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    assert(stream == batch && stream.nonEmpty)
  }

  test("ts17: stream-stream interval join equals the batch pair set") {
    val e = Tables.events(spark, sfDir)
    val batch = e.filter($"event_type" === "purchase").alias("p")
      .join(e.filter($"event_type" === "click").alias("c"),
        $"p.user_id" === $"c.user_id" &&
        $"c.ts" >= $"p.ts" - expr("INTERVAL 1 HOUR") && $"c.ts" < $"p.ts")
      .select($"p.event_id", $"c.event_id").as[(Long, Long)].collect().toSet
    val stream = graft.streaming.Streams.intervalJoinStream(spark, sfDir)
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(stream == batch)
  }
}
