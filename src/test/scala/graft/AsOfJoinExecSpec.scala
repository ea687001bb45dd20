package graft

import org.apache.spark.sql.functions._
import graft.plans.AsOfJoinDsl
import graft.sources.Tables

/** The native AsOfJoinExec must agree with the composed union+window
  * formulation (References.asOfJoin) on real data, and its plan must be
  * the custom exec with one exchange per side. TimeSeriesSpec checks it
  * against a brute-force inequality join. */
class AsOfJoinExecSpec extends SparkSpec {
  import spark.implicits._

  private def purchasesAndClicks = {
    val e = Tables.events(spark, sfDir).select("user_id", "ts", "event_id", "event_type")
    (e.filter($"event_type" === "purchase").drop("event_type"),
      e.filter($"event_type" === "click").drop("event_type"))
  }

  test("native as-of join matches the union+window composition") {
    val (p, c) = purchasesAndClicks
    val native = AsOfJoinDsl.asof(p, c, "user_id", "ts", "event_id")
      .select($"event_id", $"right_event_id")
      .as[(Long, Option[Long])].collect().toMap
    val composed = References.asOfJoin(p, c, "user_id", "ts", "event_id", Seq("event_id"))
      .select($"event_id", $"right_event_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(native.nonEmpty)
    assert(native == composed)
  }

  test("plan contains AsOfJoinExec and at most one exchange per side") {
    val (p, c) = purchasesAndClicks
    val plan = AsOfJoinDsl.asof(p, c, "user_id", "ts", "event_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"no native exec in:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"too many shuffles ($exchanges):\n$plan")
  }

  test("left rows with no matching right key get nulls") {
    val l = Seq((1L, "2024-01-01 10:00:00", 1L), (2L, "2024-01-01 11:00:00", 2L))
      .toDF("user_id", "ts_s", "event_id")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val r = Seq((1L, "2024-01-01 09:00:00", 10L))
      .toDF("user_id", "ts_s", "event_id")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = AsOfJoinDsl.asof(l, r, "user_id", "ts", "event_id")
      .select($"user_id", $"right_event_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(got == Map(1L -> Some(10L), 2L -> None))
  }
}
