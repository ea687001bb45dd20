package graft.keys

import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Analytics

import Shared._

/** q-keys: the TPC-H analog queries over the relational tables. */
object AnalyticsKeys {
  val keys: Seq[Key] = Seq(
    Key("q1_pricing_summary", () =>
      """SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
        |  sum_charge, count_order,
        |  round(sum_qty / count_order, 6) AS avg_qty,
        |  round(sum_base_price / count_order, 6) AS avg_price
        |FROM (SELECT l_returnflag, l_linestatus,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |    count(*) AS count_order
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        |  GROUP BY 1, 2)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)((s, d) => Analytics.q1PricingSummary(s, d, "2000-09-02")),

    Key("q3_shipping_priority", () =>
      """SELECT l.l_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o.o_orderpriority,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)((s, d) =>
      Analytics.q3ShippingPriority(s, d, "BUILDING", "1998-03-15")),

    Key("q5_local_supplier", () =>
      """SELECT n.n_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin)((s, d) => Analytics.q5LocalSupplier(s, d, "ASIA", 1996)),

    Key("q6_revenue_delta", () =>
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)((s, d) => Analytics.q6RevenueDelta(s, d, 1997)),

    Key("q7_volume_shipping", () =>
      """SELECT s.supp_nation, s.cust_nation, s.l_year,
        |  CAST(sum(s.vol) AS DOUBLE) AS volume
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l.l_shipdate) AS INT) AS l_year,
        |    CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6)) AS vol
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer cu ON o.o_custkey = cu.c_custkey
        |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
        |  JOIN nation n1 ON su.s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON cu.c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
        |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2')) s
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)((s, d) =>
      Analytics.q7VolumeShipping(s, d, "NATION_2", "NATION_7")),

    Key("q14_promo_revenue", () =>
      """SELECT round(100.0 * promo / total, 6) AS promo_revenue FROM (
        |  SELECT
        |    CAST(sum(CASE WHEN p.p_type = 'PROMO'
        |      THEN CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo,
        |    CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |    AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00')""".stripMargin)((s, d) => Analytics.q14PromoRevenue(s, d, "1997-09")),

    Key("q10_returned_items", () =>
      """SELECT c.c_custkey, c.c_name, r.revenue, c.c_acctbal, n.n_name
        |FROM (
        |  SELECT o.o_custkey,
        |    CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |    AND o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1) r
        |JOIN customer c ON r.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY r.revenue DESC, c.c_custkey LIMIT 20""".stripMargin)((s, d) => Analytics.q10ReturnedItems(s, d, "1997-10-01")),

    Key("q18_large_orders", () =>
      """SELECT c.c_name, o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o.o_totalprice, b.sum_qty
        |FROM (SELECT l_orderkey,
        |        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |      FROM lineitem GROUP BY 1) b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE b.sum_qty > 250
        |ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100""".stripMargin)((s, d) => Analytics.q18LargeOrders(s, d, 250.0)),

    Key("q4_priority_late", () =>
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin)((s, d) => Analytics.q4PriorityLate(s, d, "1996-01-01", 60)),

    Key("q8_market_share", () =>
      """SELECT o_year, round(nation_rev / total_rev, 6) AS mkt_share FROM (
        |  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |    CAST(sum(CASE WHEN n1.n_name = 'NATION_2'
        |      THEN CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS nation_rev,
        |    CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  JOIN region r ON n2.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1)
        |ORDER BY o_year""".stripMargin)((s, d) =>
      Analytics.q8MarketShare(s, d, "ASIA", "ECONOMY", "NATION_2", 1995, 1996)),

    Key("q9_product_profit", () =>
      """SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS INT) AS o_year,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    - 0.6 * p.p_retailprice * l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin)((s, d) => Analytics.q9ProductProfit(s, d, "red")),

    Key("q13_cust_orders_hist", () =>
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)((s, d) =>
      Analytics.q13CustOrdersHist(s, d, "4-NOT SPECIFIED")),

    Key("q15_top_supplier", () =>
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, rev.total_revenue
        |FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        |WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)((s, d) => Analytics.q15TopSupplier(s, d, "1996-01-01")),

    Key("q16_part_supplier_cnt", () =>
      """SELECT p.p_brand, p.p_type, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_brand <> 'Brand#5' AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)((s, d) =>
      Analytics.q16PartSupplierCnt(s, d, "Brand#5", Seq(1, 5, 9, 14, 19, 23, 36, 45))),

    Key("q17_small_qty_rev", () =>
      """SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
        |JOIN (SELECT l_partkey,
        |        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        |      FROM lineitem GROUP BY 1) a
        |  ON a.l_partkey = l.l_partkey
        |WHERE l.l_quantity < 0.5 * a.avg_qty""".stripMargin)((s, d) => Analytics.q17SmallQtyRevenue(s, d, "Brand#3")),

    Key("q19_disc_revenue_or", () =>
      """SELECT CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5 AND l.l_quantity BETWEEN 1 AND 11)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 10 AND 20)
        |   OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin)((s, d) => Analytics.q19DiscRevenueOr(s, d)),

    Key("q20_qty_suppliers", () =>
      """SELECT s.s_suppkey, s.s_name, n.n_name
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE s.s_suppkey IN (
        |  WITH perPair AS (
        |    SELECT l.l_suppkey, l.l_partkey,
        |      CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |    WHERE p.p_name LIKE 'blue%'
        |      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |    GROUP BY 1, 2),
        |  thr AS (SELECT CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 2.0 AS thr
        |    FROM perPair)
        |  SELECT perPair.l_suppkey FROM perPair, thr WHERE perPair.qty > thr.thr)
        |ORDER BY s_suppkey""".stripMargin)((s, d) => Analytics.q20QtySuppliers(s, d, "blue", 1996, 2.0)),

    Key("q21_returned_sole", () =>
      """WITH f AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |    max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
        |  GROUP BY 1, 2),
        |po AS (SELECT l_orderkey, count(*) AS n_supp, sum(ret) AS n_ret FROM f GROUP BY 1)
        |SELECT s.s_name, count(*) AS numwait
        |FROM f JOIN po ON f.l_orderkey = po.l_orderkey
        |JOIN supplier s ON f.l_suppkey = s.s_suppkey
        |WHERE f.ret = 1 AND po.n_supp >= 2 AND po.n_ret = 1
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)((s, d) => Analytics.q21ReturnedSole(s, d, 20)),

    // supply cost = best per-unit price ever quoted (an exact MIN
    // selection, no sum → the double equality with the per-part min
    // is engine-stable)
    Key("q2_min_cost_supp", () =>
      """WITH p AS (SELECT p_partkey, p_type FROM part
        |  WHERE p_size <= 15 AND p_type = 'STANDARD'),
        |cost AS (
        |  SELECT l.l_suppkey, l.l_partkey, p.p_type,
        |    min(l.l_extendedprice / l.l_quantity) AS supply_cost
        |  FROM lineitem l JOIN p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_quantity > 0
        |  GROUP BY 1, 2, 3),
        |mc AS (SELECT l_partkey, min(supply_cost) AS min_cost FROM cost GROUP BY 1)
        |SELECT s.s_acctbal, s.s_name, n.n_name,
        |  cost.l_partkey AS p_partkey, cost.p_type, cost.supply_cost
        |FROM cost
        |JOIN mc ON cost.l_partkey = mc.l_partkey AND cost.supply_cost = mc.min_cost
        |JOIN supplier s ON cost.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)((s, d) =>
      Analytics.q2MinCostSupplier(s, d, "EUROPE", 15, "STANDARD", 100)),

    Key("q11_important_stock", () =>
      """WITH su AS (
        |  SELECT s.s_suppkey FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name = 'NATION_7'),
        |pp AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM su)
        |  GROUP BY 1)
        |SELECT l_partkey AS p_partkey, CAST(value_dec AS DOUBLE) AS value
        |FROM pp
        |WHERE CAST(value_dec AS DOUBLE) >
        |  (SELECT CAST(sum(value_dec) AS DOUBLE) * 0.001 FROM pp)
        |ORDER BY value DESC, p_partkey""".stripMargin)((s, d) =>
      Analytics.q11ImportantStock(s, d, "NATION_7", 0.001)),

    Key("q12_ship_priority", () =>
      """SELECT CASE
        |    WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 30 THEN '1-FAST'
        |    WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 60 THEN '2-MEDIUM'
        |    ELSE '3-SLOW' END AS ship_bucket,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin)((s, d) =>
      Analytics.q12ShipDelayPriority(s, d, 1997, 30, 60)),

    Key("q23_rollup_revenue", () =>
      """SELECT (CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
        |      + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS grp,
        |  coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  revenue, n
        |FROM (SELECT l_returnflag, l_linestatus,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |    count(*) AS n
        |  FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus))
        |ORDER BY grp, l_returnflag, l_linestatus""".stripMargin)((s, d) => Analytics.q23RollupRevenue(s, d)),

    // set operators: EXCEPT/INTERSECT compile to anti/semi joins over
    // the distinct key sets — churn analysis shape (active-then-gone)
    Key("q24_set_ops", () =>
      """WITH c96 AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |c97 AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |churned AS (SELECT o_custkey FROM c96 EXCEPT SELECT o_custkey FROM c97),
        |retained AS (SELECT o_custkey FROM c96 INTERSECT SELECT o_custkey FROM c97)
        |SELECT 'churned' AS cohort, count(*) AS n_customers FROM churned
        |UNION ALL
        |SELECT 'retained' AS cohort, count(*) AS n_customers FROM retained
        |ORDER BY cohort""".stripMargin)((s, d) => {
      def custsIn(year: Int) = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit(s"$year-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${year + 1}-01-01").cast("timestamp"))
        .select("o_custkey")
      val churned = custsIn(1996).except(custsIn(1997))
      val retained = custsIn(1996).intersect(custsIn(1997))
      churned.withColumn("cohort", lit("churned"))
        .unionByName(retained.withColumn("cohort", lit("retained")))
        .groupBy("cohort").agg(count(lit(1)).as("n_customers"))
        .orderBy("cohort")
    }),

    Key("q22_idle_customers", () =>
      """WITH cu AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)),
        |ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        |  FROM cu WHERE c_acctbal > 0)
        |SELECT cu.c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(cu.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM cu, ab
        |WHERE cu.c_acctbal > ab.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = cu.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin)((s, d) =>
      Analytics.q22IdleCustomers(s, d, Seq(1, 3, 5, 7, 9, 11, 13), "1999-01-01")),
  )
}
