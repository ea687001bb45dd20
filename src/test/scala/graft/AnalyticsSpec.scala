package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.sources.Tables

/** The q family: adapted TPC-H flavors. Where the Spark formulation
  * rewrites a correlated EXISTS into a join/aggregate shape, the spec
  * proves the rewrite equal to the literal SQL formulation on the same
  * data. */
class AnalyticsSpec extends SparkSpec {
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

  test("q17/q20 smoke: single-row aggregate and selective supplier set") {
    val q17 = Analytics.q17SmallQtyRevenue(spark, sfDir, "Brand#3").collect()
    assert(q17.length == 1)
    val nSupp = Tables.supplier(spark, sfDir).count()
    val q20 = Analytics.q20QtySuppliers(spark, sfDir, "blue", 1996, 2.0).count()
    assert(q20 > 0 && q20 < nSupp)
  }
}
