package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.sources.Tables

/** Round-3 relational breadth: the adapted TPC-H flavors added in §2.C.
  * Where the Spark formulation rewrites a correlated EXISTS into a
  * join/aggregate shape, the spec proves the rewrite equal to the
  * literal SQL formulation on the same data.
  */
class Round3Spec extends SparkSpec {
  import spark.implicits._

  private def registerViews(): Unit =
    Seq("lineitem", "orders", "customer", "supplier", "nation", "region", "part")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t))

  test("q4: left-semi rewrite equals literal EXISTS") {
    registerViews()
    val got = Analytics.q4PriorityLate(spark, sfDir, "1996-01-01", 60)
      .as[(String, Long)].collect().toMap
    val want = spark.sql(
      """SELECT o_orderpriority, count(*) FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY 1""".stripMargin).as[(String, Long)].collect().toMap
    assert(got == want && got.nonEmpty)
  }

  test("q8: market share is a valid ratio per year") {
    val rows = Analytics.q8MarketShare(spark, sfDir, "ASIA", "ECONOMY", "NATION_2", 1995, 1996)
      .as[(Int, Double)].collect()
    assert(rows.map(_._1).toSeq == Seq(1995, 1996))
    assert(rows.forall { case (_, s) => s >= 0.0 && s <= 1.0 })
  }

  test("q13: histogram masses sum to the customer count") {
    val hist = Analytics.q13CustOrdersHist(spark, sfDir, "4-NOT SPECIFIED")
    val total = hist.agg(sum($"custdist")).as[Long].head()
    val nCust = Tables.customer(spark, sfDir).count()
    assert(total == nCust)
  }

  test("q15: returned suppliers carry exactly the max quarter revenue") {
    val res = Analytics.q15TopSupplier(spark, sfDir, "1996-01-01")
      .as[(Long, String, Double)].collect()
    assert(res.nonEmpty)
    val start = lit("1996-01-01").cast("timestamp")
    val maxRev = Tables.lineitem(spark, sfDir)
      .filter($"l_shipdate" >= start && $"l_shipdate" < add_months(start, 3))
      .groupBy($"l_suppkey")
      .agg(sum($"l_extendedprice".cast("decimal(18,6)") * (lit(1.0) - $"l_discount"))
        .cast("double").as("r"))
      .agg(max($"r")).as[Double].head()
    assert(res.forall { case (_, _, r) => math.abs(r - maxRev) < 1e-6 })
  }

  test("q16: excluded brand absent, counts bounded by supplier population") {
    val res = Analytics.q16PartSupplierCnt(spark, sfDir, "Brand#5",
      Seq(1, 5, 9, 14, 19, 23, 36, 45))
    val nSupp = Tables.supplier(spark, sfDir).count()
    assert(res.filter($"p_brand" === "Brand#5").count() == 0)
    assert(res.filter($"supplier_cnt" > nSupp).count() == 0)
    assert(res.count() > 0)
  }

  test("q19: disjunctive join predicate equals post-join filter") {
    registerViews()
    val got = Analytics.q19DiscRevenueOr(spark, sfDir).as[Option[Double]].head()
    val want = spark.sql(
      """SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)"""
        .stripMargin).as[Option[Double]].head()
    assert(got == want)
  }

  test("q21: per-order aggregate rewrite equals literal EXISTS / NOT EXISTS") {
    registerViews()
    val got = Analytics.q21ReturnedSole(spark, sfDir, 1000)
      .as[(String, Long)].collect().toMap
    // literal form: supplier had an 'R' line in the order, some other
    // supplier is in the order, and no other supplier has an 'R' line
    val want = spark.sql(
      """SELECT s_name, count(*) FROM (
        |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |  FROM lineitem l1 JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |  WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |        AND l3.l_returnflag = 'R')) q
        |JOIN supplier ON s_suppkey = q.l_suppkey
        |GROUP BY 1""".stripMargin).as[(String, Long)].collect().toMap
    assert(got == want && got.nonEmpty)
  }

  test("q22: members are above the cohort average and order-free since the cutoff") {
    registerViews()
    val keys = Seq(1, 3, 5, 7, 9, 11, 13)
    val res = Analytics.q22IdleCustomers(spark, sfDir, keys, "1999-01-01")
      .as[(Int, Long, Double)].collect()
    val want = spark.sql(
      """WITH cu AS (SELECT * FROM customer WHERE c_nationkey IN (1,3,5,7,9,11,13)),
        |ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS b
        |  FROM cu WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) FROM cu, ab
        |WHERE c_acctbal > ab.b AND NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = cu.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY 1""".stripMargin).as[(Int, Long)].collect().toMap
    assert(res.map { case (k, n, _) => (k, n) }.toMap == want)
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

  test("d6: cluster labels are fixpoint-consistent with the pair graph") {
    val docs = Tables.documents(spark, sfDir)
    val labels = References.dupClusters(docs, "doc_id", "text", 3, 16, 4)
      .as[(Long, Long)].collect().toMap
    val pairs = graft.dedup.Dedup
      .minhashLshPairs(docs, "doc_id", "text", 3, 16, 4)
      .as[(Long, Long)].collect()
    // connected nodes share a label, and each label is its component min
    assert(pairs.forall { case (a, b) => labels(a) == labels(b) })
    assert(labels.forall { case (idv, l) => l <= idv })
    assert(labels.values.toSet.forall(l => labels(l) == l))
  }

  test("ts19: anomalies really deviate, non-anomalies dominate") {
    val res = graft.operators.TimeSeries.zscoreAnomalies(
      Tables.events(spark, sfDir), "event_type", "event_id", "value", 2.5)
    val n = res.count()
    val total = Tables.events(spark, sfDir).count()
    assert(n < total / 10) // anomalies are rare
  }

  test("t11: interpolation brackets the cut and holds the last value at the tail") {
    val at = lit("2024-01-20 00:00:00").cast("timestamp")
    val res = graft.temporal.Temporal.asOfInterpolate(
      Tables.events(spark, sfDir).select("user_id", "ts", "event_id", "value"),
      "user_id", "ts", "event_id", "value", at)
    val atUs = 1705708800000000L // 2024-01-20 UTC
    val rows = res.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t0 = r.getAs[Long]("t0")
      assert(t0 <= atUs)
      if (r.isNullAt(r.fieldIndex("t1"))) {
        assert(math.abs(r.getAs[Double]("v_interp") -
          BigDecimal(r.getAs[Double]("v0")).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble) < 1e-9)
      } else {
        val (v0, v1, vi) = (r.getAs[Double]("v0"), r.getAs[Double]("v1"),
          r.getAs[Double]("v_interp"))
        assert(r.getAs[Long]("t1") > atUs)
        assert(vi >= math.min(v0, v1) - 1e-6 && vi <= math.max(v0, v1) + 1e-6)
      }
    }
  }

  test("m3: chunks reassemble to the original byte length") {
    val docs = Tables.documents(spark, sfDir)
    val chunks = graft.multimodal.Binary.chunked(
      graft.multimodal.Binary.withPayload(docs, "doc_id", "text"), "doc_id", 256)
    val sums = chunks.groupBy($"doc_id").agg(sum($"chunk_len").as("len"),
      max($"chunk_len").as("mx"))
    val orig = docs.select($"doc_id", length($"text").as("orig"))
    assert(sums.join(orig, "doc_id").filter($"len" =!= $"orig").count() == 0)
    assert(sums.filter($"mx" > 256).count() == 0)
  }

  test("m4: chunk-dup pairs find identical and half-shared payloads, not unrelated ones") {
    val a = "x" * 128            // chunks: [x*64, x*64]
    val b = "x" * 128            // identical -> jaccard 1.0 (1 distinct key)
    val c = "x" * 64 + "y" * 64  // shares the x-chunk -> jaccard 1/2
    val d = "z" * 128            // no shared chunk
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "text")
    val pairs = graft.multimodal.Binary.chunkDupPairsFrom(
        graft.multimodal.Binary.chunked(
          graft.multimodal.Binary.withPayload(docs, "doc_id", "text"), "doc_id", 64),
        "doc_id", 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.filter(p => p._2 == 3L || p._1 == 3L).forall(_._3 == 0.5))
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 == 1.0)
  }

  test("m3: empty payload yields zero chunks, not phantom rows") {
    val df = Seq((1L, ""), (2L, "abc")).toDF("doc_id", "text")
    val chunks = graft.multimodal.Binary.chunked(
      graft.multimodal.Binary.withPayload(df, "doc_id", "text"), "doc_id", 256)
    assert(chunks.filter($"doc_id" === 1L).count() == 0)
    assert(chunks.filter($"doc_id" === 2L).count() == 1)
  }

  test("simhash/shingles keep trailing empty tokens (Spark split parity)") {
    // the composed HOF formulation SimHash32 replaced — Spark's
    // split(text, ' ') keeps trailing empties, so the native expression
    // must too for texts with trailing/double spaces
    def composed(text: org.apache.spark.sql.Column) = {
      val hashes = transform(array_distinct(split(text, " ")),
        w => conv(substring(md5(w), 1, 8), 16, 10).cast("long"))
      val bitScores = transform(sequence(lit(0), lit(31)), i =>
        aggregate(hashes, lit(0),
          (acc, h) => acc + when(
            (h / pow(lit(2.0), i.cast("double"))).cast("long") % 2 === 1, 1)
            .otherwise(-1)))
      aggregate(reverse(bitScores), lit(0L),
        (acc, s) => acc * 2 + when(s > 0, 1L).otherwise(0L))
    }
    val tricky = Seq("a b ", " a", "a  b", "plain text", "x")
      .toDF("text")
    val bad = tricky.select(
        graft.dedup.Dedup.simhash32($"text").as("native"),
        composed($"text").as("composed"))
      .filter($"native" =!= $"composed").count()
    assert(bad == 0)
    // WordShingles: same split semantics -> "a b " has words [a, b, ""]
    val sh = tricky.filter($"text" === "a b ")
      .select(graft.functions.Text.shingles($"text", 2))
      .as[Seq[String]].head()
    assert(sh == Seq("a b", "b "))
  }

  test("Md5Prefix60 equals the composed conv(substring(md5)) form") {
    val docs = Tables.documents(spark, sfDir)
    val mismatches = docs.select(
        graft.functions.Text.md5Prefix60($"text").as("native"),
        conv(substring(md5($"text"), 1, 15), 16, 10).cast("long").as("composed"))
      .filter($"native" =!= $"composed").count()
    assert(mismatches == 0)
  }

  test("x6: hash sampling is deterministic and monotone under rate changes") {
    val docs = Tables.documents(spark, sfDir)
    def sampled(rate: Int) = docs
      .filter(graft.functions.Text.hashBucket($"doc_id", 100) < rate)
      .select("doc_id").as[Long].collect().toSet
    val s15a = sampled(15)
    val s15b = sampled(15)
    val s40 = sampled(40)
    assert(s15a == s15b)            // reproducible
    assert(s15a.subsetOf(s40))      // tightening a rate never resamples
    val n = docs.count().toDouble
    assert(math.abs(s40.size / n - 0.40) < 0.15) // quota roughly honored
  }

  test("q17/q20 smoke: single-row aggregate and selective supplier set") {
    val q17 = Analytics.q17SmallQtyRevenue(spark, sfDir, "Brand#3").collect()
    assert(q17.length == 1)
    val nSupp = Tables.supplier(spark, sfDir).count()
    val q20 = Analytics.q20QtySuppliers(spark, sfDir, "blue", 1996, 2.0).count()
    assert(q20 > 0 && q20 < nSupp)
  }
}
