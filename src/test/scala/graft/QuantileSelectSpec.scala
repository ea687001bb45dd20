package graft

import org.apache.spark.sql.functions._
import graft.operators.TimeSeries

/** exactQuantiles (the bounded cutoff-selection construction that
  * replaced Spark's all-values-per-group `percentile` buffer in the
  * ts9/ts30/s5 production paths) must be BIT-IDENTICAL to the built-in
  * exact `percentile` aggregate — interpolation arithmetic included —
  * on every corpus shape that stresses the construction: heavy ties
  * (including ties that ARE the approx cutoffs), skew, tiny groups
  * (n = 1/2/3), all-equal groups, negative values, integer vs
  * fractional target positions, and parts far from the default. */
class QuantileSelectSpec extends SparkSpec {
  import spark.implicits._

  private val Ps = Seq(0.5, 0.9, 0.99)

  /** ts9's report computed directly: [[TimeSeries.exactQuantiles]] at
    * p50/p90/p99, rounded to 6 dp — what QuantileCache.percentiles
    * serves off the suite-shared selection. */
  private def percentiles(df: org.apache.spark.sql.DataFrame, series: String,
                          value: String) =
    TimeSeries.exactQuantiles(df, series, value, Ps)
      .select(col(series),
        round(col("__q0"), 6).as("p50"),
        round(col("__q1"), 6).as("p90"),
        round(col("__q2"), 6).as("p99"),
        col("__n").as("n"))

  /** Built-in exact percentile twin (unrounded), same output shape. */
  private def builtin(df: org.apache.spark.sql.DataFrame,
                      ps: Seq[Double]): Map[String, (Long, Seq[Double])] =
    df.groupBy(col("g")).agg(
        count(col("v")).as("__n"),
        expr(s"percentile(v, array(${ps.mkString(",")}))").as("__qs"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Double](2)))
      .toMap

  private def bounded(df: org.apache.spark.sql.DataFrame, ps: Seq[Double],
                      parts: Int = 32): Map[String, (Long, Seq[Double])] =
    TimeSeries.exactQuantiles(df, "g", "v", ps, parts)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), ps.indices.map(i => r.getDouble(2 + i))))
      .toMap

  private def pin(rows: Seq[(String, Double)], ps: Seq[Double] = Ps,
                  parts: Int = 32): Unit = {
    val df = rows.toDF("g", "v")
    val b = builtin(df, ps)
    val x = bounded(df, ps, parts)
    assert(x.keySet == b.keySet)
    for (g <- b.keySet) {
      assert(x(g)._1 == b(g)._1, s"n mismatch for $g")
      // java.lang.Double.compare: bit-exact including -0.0 vs 0.0
      x(g)._2.zip(b(g)._2).zipWithIndex.foreach { case ((xv, bv), i) =>
        assert(java.lang.Double.compare(xv, bv) == 0,
          s"group $g p=${ps(i)}: bounded $xv != builtin $bv")
      }
    }
  }

  test("random mixed-size groups, several seeds") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 3000).map { i =>
        (s"g${i % 7}", math.floor(rnd.nextGaussian() * 1e4) / 100.0)
      }
      pin(rows)
      pin(rows, parts = 5)
      pin(rows, parts = 200)
    }
  }

  test("heavy ties and skew: 90% one value, ties at cutoff positions") {
    val rnd = new scala.util.Random(11)
    // 90% of rows are exactly 5.0 — the approx cutoffs themselves land
    // on 5.0, so the tie class must not straddle a bucket boundary
    val rows = (0 until 2000).map { i =>
      ("hot", if (rnd.nextDouble() < 0.9) 5.0 else rnd.nextInt(10).toDouble)
    }
    pin(rows)
    // every value a tie in blocks: only 3 distinct values, 31 cutoffs
    pin((0 until 999).map(i => ("blk", (i % 3).toDouble)))
  }

  test("tiny groups: n = 1, 2, 3; all-equal; negatives") {
    pin(Seq(("one", 3.25),
      ("two", -1.5), ("two", 8.0),
      ("three", 2.0), ("three", -7.0), ("three", 4.5),
      ("same", 9.0), ("same", 9.0), ("same", 9.0), ("same", 9.0)))
  }

  test("integer vs fractional target positions") {
    // n = 11: p50 hits position 5 exactly (integer); p90 position 9.0
    // (integer); p99 position 9.9 (fractional) — both arms of the
    // interpolation branch in one group
    pin((1 to 11).map(i => ("k", i * 1.1)), ps = Seq(0.5, 0.9, 0.99, 0.0, 1.0))
  }

  test("nulls excluded from both the quantiles and n") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("b", None), ("b", Some(2.0))).toDF("g", "v")
    val x = TimeSeries.exactQuantiles(df, "g", "v", Seq(0.5)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(x("a") == ((2L, 2.0)) && x("b") == ((1L, 2.0)))
  }

  test("group-cardinality guard fails fast on a 1e5-group corpus") {
    // the guard fires after the group-row-sized cutoff collect —
    // never building the driver-sized selection plan: 100k distinct
    // groups, one row each (~30MB collected, then require)
    val wide = spark.range(100000L)
      .select(concat(lit("g"), col("id")).as("g"),
        (col("id") % 97).cast("double").as("v"))
    val e1 = intercept[IllegalArgumentException] {
      TimeSeries.exactQuantiles(wide, "g", "v", Seq(0.5))
    }
    assert(e1.getMessage.contains(s"${TimeSeries.MaxQuantileGroups} groups"))
    val e2 = intercept[IllegalArgumentException] {
      References.madOutliers(wide, "g", "v")
    }
    assert(e2.getMessage.contains("series"))
    // at the bound, the operator still runs (output-sized state OK)
    val ok = spark.range(50L)
      .select(concat(lit("g"), col("id")).as("g"),
        (col("id") % 7).cast("double").as("v"))
    assert(TimeSeries.exactQuantiles(ok, "g", "v", Seq(0.5)).count() == 50L)
  }

  test("production paths carry no built-in percentile aggregate") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    for (name <- Seq("ts9_percentiles", "ts30_mad_outliers", "s5_hist_quantiles")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("percentile(") || plan.contains("approx_percentile("),
        s"$name still plans the unbounded exact percentile aggregate")
      // stronger: the exact aggregate never appears at all
      assert(!"(?<!approx_)percentile\\(".r.findFirstIn(plan).isDefined,
        s"$name plan contains exact percentile(")
    }
  }

  test("ts9/ts30 outputs equal their previous exact-aggregate forms on real events") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    // ts9 twin: the old groupBy + percentile shape
    val old9 = ev.groupBy(col("event_type")).agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    val new9 = percentiles(ev, "event_type", "value")
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    assert(new9 == old9)
    // ts30 twin: old median/MAD via the exact aggregate
    val med = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("med"),
        abs(col("value") - col("med")).as("__dev"))
    val old30 = dev.groupBy(col("event_type")).agg(
        first(col("med")).as("med"),
        round(expr("percentile(__dev, 0.5)"), 6).as("mad"),
        count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    val new30 = References.madOutliers(ev, "event_type", "value", 3)
      .select(col("event_type"), col("med"), col("mad"), col("n"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    assert(new30 == old30)
  }

  // ---- quantile trio via the shared selection memo -----------------------

  test("QuantileCache.percentiles == TimeSeries.percentiles (direct)") {
    val direct = percentiles(
        graft.sources.Tables.events(spark, sfDir), "event_type", "value")
      .collect().map(_.toSeq).toSet
    val memo = graft.operators.QuantileCache.percentiles(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(memo === direct)
  }

  test("QuantileCache.madOutliers == TimeSeries.madOutliers (direct)") {
    val direct = References.madOutliers(
        graft.sources.Tables.events(spark, sfDir), "event_type", "value", 3)
      .collect().map(_.toSeq).toSet
    val memo = graft.operators.QuantileCache.madOutliers(spark, sfDir, 3)
      .collect().map(_.toSeq).toSet
    assert(memo === direct)
  }

  test("histQuantiles with QuantileCache exact legs == direct build") {
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select("event_type", "value")
    val direct = graft.functions.Sketch
      .histQuantiles(ev, "event_type", "value", buckets = 256)
      .collect().map(_.toSeq).toSet
    val memo = graft.functions.Sketch.histQuantiles(
        graft.operators.QuantileCache.projection(spark, sfDir)
          .select(col("__g").as("event_type"), col("__v").as("value")),
        "event_type", "value", buckets = 256,
        exactLegs = Some(graft.operators.QuantileCache.exactLegs(spark, sfDir)))
      .collect().map(_.toSeq).toSet
    assert(memo === direct)
  }
}
