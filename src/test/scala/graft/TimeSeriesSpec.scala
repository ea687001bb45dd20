package graft

import org.apache.spark.sql.functions._
import graft.operators.TimeSeries
import graft.plans.AsOfJoinDsl
import graft.sources.Tables

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  test("asOfJoin matches a brute-force per-row maximum") {
    val e = Tables.events(spark, sfDir).select("user_id", "ts", "event_id", "event_type")
    val p = e.filter($"event_type" === "purchase").drop("event_type")
    val c = e.filter($"event_type" === "click").drop("event_type")

    val got = AsOfJoinDsl.asof(p, c, "user_id", "ts", "event_id")
      .select($"event_id", $"right_event_id")
      .as[(Long, Option[Long])].collect().toMap

    // brute force: inequality join + max_by
    val brute = p.as("p").join(c.as("c"),
        $"p.user_id" === $"c.user_id" && $"c.ts" <= $"p.ts", "left")
      .groupBy($"p.event_id".as("pid"))
      .agg(max_by($"c.event_id", struct($"c.ts", $"c.event_id")).as("cid"))
      .as[(Long, Option[Long])].collect().toMap

    assert(got.nonEmpty)
    // brute's left join keeps unmatched with None; the as-of join too
    assert(got == brute)
  }

  test("sessionize splits on gaps greater than the threshold") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 1L, 1.0),
      (1L, "2024-01-01 00:10:00", 2L, 1.0), // same session (10 min)
      (1L, "2024-01-01 02:00:00", 3L, 1.0), // new session (>30 min)
      (2L, "2024-01-01 00:00:00", 4L, 1.0)
    ).toDF("user_id", "ts_s", "event_id", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = TimeSeries.sessionize(df, "user_id", "ts", "event_id", "value", 1800L)
      .select("user_id", "session_id", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 0L, 2L), (1L, 1L, 1L), (2L, 0L, 1L)))
  }

  test("sessionizeChunked equals sessionize on real events, any chunk size") {
    val ev = Tables.events(spark, sfDir).select("user_id", "ts", "event_id", "value")
    val want = TimeSeries.sessionize(ev, "user_id", "ts", "event_id", "value", 1800L)
      .collect().toSet
    // chunks much larger, comparable to, and much smaller than the gap
    for (chunk <- Seq(86400L, 3600L, 600L)) {
      val got = TimeSeries.sessionizeChunked(
        ev, "user_id", "ts", "event_id", "value", 1800L, chunk).collect().toSet
      assert(got == want, s"chunkSeconds=$chunk diverged")
    }
  }

  test("sessionizeChunked equals sessionize with every row on one key") {
    val ev = Tables.events(spark, sfDir)
      .select(lit(1L).as("user_id"), col("ts"), col("event_id"), col("value"))
    val want = TimeSeries.sessionize(ev, "user_id", "ts", "event_id", "value", 1800L)
      .collect().toSet
    val got = TimeSeries.sessionizeChunked(
      ev, "user_id", "ts", "event_id", "value", 1800L, 3600L).collect().toSet
    assert(got == want)
  }

  test("sessionizeSkewSafe equals sessionize at every hot-threshold regime") {
    val ev = Tables.events(spark, sfDir).select("user_id", "ts", "event_id", "value")
    val want = TimeSeries.sessionize(ev, "user_id", "ts", "event_id", "value", 1800L)
      .collect().toSet
    // all keys cold, all keys hot, and a mixed split
    for (threshold <- Seq(1000000L, 0L, 40L)) {
      val got = TimeSeries.sessionizeSkewSafe(
        ev, "user_id", "ts", "event_id", "value", 1800L,
        chunkSeconds = 3600L, hotRowThreshold = threshold).collect().toSet
      assert(got == want, s"hotRowThreshold=$threshold diverged")
    }
  }

  test("sessionizeSkewSafe keeps NULL-key rows in every routing regime") {
    val ev = Tables.events(spark, sfDir).select("user_id", "ts", "event_id", "value")
      // plant NULL-key rows: a small cold group and (at low thresholds)
      // a hot one — null keys are classic hot keys in real data
      .withColumn("user_id",
        when(col("event_id") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("user_id")))
    val want = TimeSeries.sessionize(ev, "user_id", "ts", "event_id", "value", 1800L)
      .collect().toSet
    assert(want.exists(_.isNullAt(0)), "test data must contain a NULL-key session")
    // all cold / all hot (incl. the NULL key) / mixed with NULL hot
    for (threshold <- Seq(1000000L, 0L, 40L)) {
      val got = TimeSeries.sessionizeSkewSafe(
        ev, "user_id", "ts", "event_id", "value", 1800L,
        chunkSeconds = 3600L, hotRowThreshold = threshold).collect().toSet
      assert(got == want, s"hotRowThreshold=$threshold diverged on NULL keys")
    }
  }

  test("topk is deterministic and ranked") {
    val got = TimeSeries.topkByTotal(Tables.events(spark, sfDir), "user_id", "value", 5)
      .select("rank", "user_id").as[(Int, Long)].collect()
    assert(got.map(_._1).toSeq == (1 to 5))
  }

  test("gap fill produces a dense day grid with zero-filled gaps") {
    val got = TimeSeries.gapFillDaily(Tables.events(spark, sfDir),
      "event_type", "ts", "value")
    val types = got.select("event_type").distinct().count()
    val days = got.select("day").distinct().count()
    assert(got.count() == types * days) // dense grid
    assert(got.filter($"n" === 0 && $"sum_value" =!= 0.0).count() == 0)
  }
}
