package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.dedup.Dedup
import graft.operators.TimeSeries

/** Property-based checks of the round-3 distributed kernels against
  * straightforward in-memory references (raw ScalaCheck generators,
  * deterministic seeds).
  */
class Round3PropertiesSpec extends SparkSpec {
  import spark.implicits._

  // ---- connected components vs union-find --------------------------------

  private val graphGen: Gen[(Int, List[(Long, Long)])] = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(0, 40)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0, n - 1); b <- Gen.choose(0, n - 1) if a != b
    } yield (math.min(a, b).toLong, math.max(a, b).toLong))
  } yield (n, edges.distinct)

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("connectedComponents equals union-find on random graphs") {
    for ((n, edges) <- samples(graphGen, 8)) {
      val ids = (0L until n.toLong).toDF("id")
      val pairs = edges.toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(ids, pairs, "id", maxIter = n + 1)
        .as[(Long, Long)].collect().toMap
      val want = unionFind(n, edges)
      assert(got == want, s"n=$n edges=$edges")
    }
  }

  test("connectedComponents converges in O(log n) rounds on a 300-node path") {
    // min-label propagation would need 299 rounds here; the alternating
    // large-star/small-star contraction must finish within 12
    val n = 300
    val ids = (0L until n.toLong).toDF("id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs, "id", maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.forall(_ == 0L))
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
}
