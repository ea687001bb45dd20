package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
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

  test("ts16: bucketized interval count equals naive range join") {
    val e = Tables.events(spark, sfDir)
    val purchases = e.filter($"event_type" === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = e.filter($"event_type" === "click").select("user_id", "ts")
    val got = graft.operators.TimeSeries
      .intervalCount(purchases, clicks, "user_id", "ts", "event_id", 3600000000L)
      .select($"event_id", $"n_matches").as[(Long, Long)].collect().toMap
    val naive = purchases.alias("p")
      .join(clicks.alias("c"),
        $"p.user_id" === $"c.user_id" &&
        $"c.ts" >= $"p.ts" - expr("INTERVAL 1 HOUR") && $"c.ts" < $"p.ts",
        "left_outer")
      .groupBy($"p.event_id").agg(count($"c.ts").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got == naive && got.nonEmpty)
  }

  test("ts20: time-weighted average is bounded by min/max value in range") {
    val twa = graft.operators.TimeSeries.timeWeightedAvg(
      Tables.events(spark, sfDir), "user_id", "ts", "event_id", "value",
      lit("2024-01-10 00:00:00").cast("timestamp"),
      lit("2024-01-25 00:00:00").cast("timestamp"))
    val bounds = Tables.events(spark, sfDir)
      .filter($"ts" >= "2024-01-10" && $"ts" < "2024-01-25")
      .groupBy($"user_id").agg(min($"value").as("lo"), max($"value").as("hi"))
    val bad = twa.join(bounds, "user_id")
      .filter($"twa" < $"lo" - 1e-6 || $"twa" > $"hi" + 1e-6).count()
    assert(bad == 0 && twa.count() > 0)
  }

  test("ts19: anomalies really deviate, non-anomalies dominate") {
    val res = graft.operators.TimeSeries.zscoreAnomalies(
      Tables.events(spark, sfDir), "event_type", "event_id", "value", 2.5)
    val n = res.count()
    val total = Tables.events(spark, sfDir).count()
    assert(n < total / 10) // anomalies are rare
  }

  // ---- bucketized interval count vs naive scan ----------------------------

  // events at µs offsets, including exact window-boundary collisions
  private val eventsGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 3)
      // offsets snapped near multiples of the 1000µs window to probe
      // the [t-w, t) boundary and bucket-edge cases
      base <- Gen.choose(0, 20)
      jitter <- Gen.oneOf(-1000L, -999L, -1L, 0L, 1L, 500L, 999L, 1000L)
    } yield (k.toLong, base * 1000L + jitter))
  } yield rows

  test("intervalCount equals the naive range join, incl. boundary ties") {
    val windowUs = 1000L
    for ((rows, i) <- samples(eventsGen, 8).zipWithIndex) {
      val base = 1700000000000000L
      val df = rows.zipWithIndex
        .map { case ((k, off), idx) => (idx.toLong, k, base + off) }
        .toDF("eid", "k", "us")
        .withColumn("ts", expr("timestamp_micros(us)"))
      val probe = df.select($"eid", $"k", $"ts")
      val build = df.select($"k", $"ts")
      val got = TimeSeries.intervalCount(probe, build, "k", "ts", "eid", windowUs)
        .select($"eid", $"n_matches").as[(Long, Long)].collect().toMap
      // in-memory reference
      val all = rows.zipWithIndex.map { case ((k, off), idx) => (idx.toLong, k, off) }
      val want = all.map { case (eid, k, off) =>
        eid -> all.count { case (_, k2, off2) =>
          k2 == k && off2 >= off - windowUs && off2 < off
        }.toLong
      }.toMap
      assert(got == want, s"case $i")
    }
  }

  // ---- EWMA vs in-memory reference ----------------------------------------

  private val seriesGen: Gen[List[(Long, Long, Double)]] = for {
    n <- Gen.choose(1, 50)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 3)
      v <- Gen.choose(-1000, 1000)
    } yield (k.toLong, v / 7.0))
  } yield rows.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("ewma equals the exact lag-bank reference computation") {
    val base = 1700000000000000L
    for (rows <- samples(seriesGen, 6)) {
      val df = rows.map { case (k, i, v) => (k, base + i * 1000000L, i, v) }
        .toDF("k", "us", "eid", "v")
        .withColumn("ts", expr("timestamp_micros(us)"))
      val got = TimeSeries.ewma(df.select("k", "ts", "eid", "v"),
          "k", "ts", "eid", "v", 0.5, 3)
        .select($"eid", $"ewma").as[(Long, Double)].collect().toMap
      // reference: same left-assoc double arithmetic per key in order
      val want = rows.groupBy(_._1).values.flatMap { series =>
        val ordered = series.sortBy(_._2)
        ordered.zipWithIndex.map { case ((_, eid, v), i) =>
          var num = v; var den = 1.0
          for (j <- 1 to 3; if i - j >= 0) {
            num += ordered(i - j)._3 * math.pow(0.5, j)
            den += math.pow(0.5, j)
          }
          eid -> round6(num / den)
        }
      }.toMap
      assert(got == want)
    }
  }

  test("zscore stats match the decimal-exact reference; flags are consistent") {
    val base = 1700000000000000L
    for (rows <- samples(seriesGen, 4)) {
      val df = rows.map { case (k, i, v) => (s"s$k", base + i * 1000000L, i, v) }
        .toDF("event_type", "us", "event_id", "value")
        .withColumn("ts", expr("timestamp_micros(us)"))
      val flagged = TimeSeries.zscoreAnomalies(df, "event_type", "event_id",
          "value", 1.0)
        .select($"event_id", $"z").as[(Long, Double)].collect().toMap
      val want = rows.groupBy(r => s"s${r._1}").flatMap { case (_, series) =>
        def dec6(x: Double) =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        val n = series.size
        val mean = (series.map(r => dec6(r._3)).sum.toDouble) / n
        val ex2 = (series.map(r => dec6(r._3 * r._3)).sum.toDouble) / n
        val std = math.sqrt(ex2 - mean * mean)
        if (std <= 0) Nil // constant series excluded (mirrors the engine guard)
        else series.map { case (_, eid, v) => eid -> round6((v - mean) / std) }
          .filter { case (_, z) => math.abs(z) >= 1.0 }
      }
      assert(flagged == want)
    }
  }

  // ---- TWA invariants ------------------------------------------------------

  test("timeWeightedAvg of a constant series is the constant") {
    val base = 1700000000000000L
    val df = (0 until 50).map(i => (i.toLong % 5, base + i * 1000000L, i.toLong, 7.5))
      .toDF("k", "us", "eid", "v")
      .withColumn("ts", expr("timestamp_micros(us)"))
    val res = TimeSeries.timeWeightedAvg(
      df.select("k", "ts", "eid", "v"), "k", "ts", "eid", "v",
      expr(s"timestamp_micros(${base}L)"),
      expr(s"timestamp_micros(${base + 100000000L}L)"))
    assert(res.filter($"twa" =!= 7.5).count() == 0 && res.count() == 5)
  }

  // ---- ts35 ----------------------------------------------------------------

  test("acf: alternating series hand-derivation, constant/single series NULL out") {
    // u1 alternates 1,-1,1,-1: mean 0, milli-devs ±1000;
    //   den = 4e6; num1 = 3·(−1e6) → acf1 = −0.75
    //   num2 = 2·(+1e6) → acf2 = 0.5; num3 = −1e6 → acf3 = −0.25
    // u2 constant: devs 0 → den 0 → NULL acfs
    // u3 single event → den 0 → NULL acfs
    val rows =
      Seq((1L, 0L, 1.0), (1L, 1L, -1.0), (1L, 2L, 1.0), (1L, 3L, -1.0),
        (2L, 0L, 5.0), (2L, 1L, 5.0),
        (3L, 0L, 7.0))
    val df = rows.toDF("user_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .withColumn("event_id", col("user_id") * 100 + col("ts").cast("long"))
    val out = TimeSeries.acf(df, "user_id", "ts", "event_id", "value", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toList
    assert(out === List(
      (1L, 4L, Some(-0.75), Some(0.5), Some(-0.25)),
      (2L, 2L, None, None, None),
      (3L, 1L, None, None, None)))
  }

  test("acf: a lag-2 periodic series scores acf2 near 1 and above acf1") {
    // period-2 signal 10,0,10,0,... over one key: successive samples
    // anti-correlate, lag-2 samples correlate — the diagnostic the
    // operator exists to surface
    val rows = (0 until 40).map(i => (1L, i.toLong, if (i % 2 == 0) 10.0 else 0.0))
    val df = rows.toDF("user_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .withColumn("event_id", col("ts").cast("long"))
    val r = TimeSeries.acf(df, "user_id", "ts", "event_id", "value", 3)
      .collect().head
    val (acf1, acf2) = (r.getDouble(2), r.getDouble(3))
    assert(acf1 < -0.9 && acf2 > 0.9 && acf2 > acf1)
  }
}
