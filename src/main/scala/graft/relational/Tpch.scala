package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Oracle, Query, Tables}
import graft.core.Oracle._

/** Generic relational query surface over the driver's TPC-H-ish star schema
  * (TESTDATA.md; no partsupp table, so Q2/Q9/Q11/Q20 are re-shaped onto
  * lineitem). This is the reference's §7 "ew.relational" layer — the
  * engine's general query capability validated against the DuckDB oracle.
  *
  * Scale notes (100 TB posture):
  *  - `lineitem` is the only fact table; every join against `customer` /
  *    `supplier` / `nation` / `region` / `part` is dimension-sized and
  *    explicitly `broadcast()` — zero shuffles on the build side.
  *  - `orders` is 1/4 of lineitem; its joins are shuffle hash/SMJ on the
  *    join key only after filters are pushed into the scan, and AQE
  *    re-coalesces post-filter partitions.
  *  - Aggregates are partial (map-side combine) by construction — plain
  *    `groupBy.agg` with algebraic functions.
  * All monetary math uses [[graft.core.Oracle]] exact decimal terms so
  * results hash-match the oracle bit-for-bit.
  */
object Tpch extends graft.core.QueryModule {

  private val t0 = "TIMESTAMP '1996-01-01 00:00:00'"
  private val t1 = "TIMESTAMP '1997-01-01 00:00:00'"

  // Q1: pricing summary report (full-table agg, map-side combinable).
  def q1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= expr("TIMESTAMP '1998-09-02 00:00:00'"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        d(sum(qty($"l_quantity"))).as("sum_qty"),
        d(sum(money($"l_extendedprice"))).as("sum_base_price"),
        d(sum(revenueTerm($"l_extendedprice", $"l_discount"))).as("sum_disc_price"),
        d(sum(chargeTerm($"l_extendedprice", $"l_discount", $"l_tax"))).as("sum_charge"),
        avgExact(sum(qty($"l_quantity")), count(lit(1))).as("avg_qty"),
        avgExact(sum(money($"l_extendedprice")), count(lit(1))).as("avg_price"),
        avgExact(sum(rate($"l_discount")), count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       | CAST(SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")}) AS DOUBLE) AS sum_disc_price,
       | ${sqlDSafe(s"SUM(${sqlChargeTerm("l_extendedprice", "l_discount", "l_tax")})")} AS sum_charge,
       | CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       | CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       | COUNT(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  // Q3: shipping priority — broadcast the filtered customer dim.
  def q3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(s, dir).filter($"o_orderdate" < expr("TIMESTAMP '1997-07-01 00:00:00'"))
    val li = Tables.lineitem(s, dir).filter($"l_shipdate" > expr("TIMESTAMP '1997-07-01 00:00:00'"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(d(sum(revenueTerm($"l_extendedprice", $"l_discount"))).as("revenue"))
      .select($"l_orderkey", $"revenue", date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"))
      .orderBy($"revenue".desc, $"o_orderdate", $"l_orderkey")
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT l_orderkey,
       | CAST(SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue,
       | strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
       |FROM customer JOIN orders ON c_custkey = o_custkey
       | JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       | AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
       | AND l_shipdate > TIMESTAMP '1997-07-01 00:00:00'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""".stripMargin

  // Q4: order priority with EXISTS → left-semi join.
  def q4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= expr(t0) && $"o_orderdate" < expr(t1))
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_shipdate")
    ord.join(li, $"o_orderkey" === $"l_orderkey" &&
        $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAY"), "left_semi")
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  val q4Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS order_count
       |FROM orders WHERE o_orderdate >= $t0 AND o_orderdate < $t1
       | AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
       |             AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // Q5: local supplier volume — all four dims broadcast; one shuffle join
  // (orders⋈lineitem) plus the customer/supplier co-nation predicate.
  def q5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val asiaNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= expr(t0) && $"o_orderdate" < expr(t1))
    Tables.lineitem(s, dir)
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(s, dir)),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(asiaNations), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(d(sum(revenueTerm($"l_extendedprice", $"l_discount"))).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q5Sql: String =
    s"""SELECT n_name,
       | CAST(SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue
       |FROM customer JOIN orders ON c_custkey = o_custkey
       | JOIN lineitem ON l_orderkey = o_orderkey
       | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       | JOIN nation ON s_nationkey = n_nationkey
       | JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA' AND o_orderdate >= $t0 AND o_orderdate < $t1
       |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // Q6: forecast revenue change — pure scan+filter+agg; predicate pushdown.
  def q6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= expr(t0) && $"l_shipdate" < expr(t1) &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(d(sum((money($"l_extendedprice") * rate($"l_discount"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)))).as("revenue"))
  }

  val q6Sql: String =
    s"""SELECT CAST(SUM(CAST(${sqlMoney("l_extendedprice")} * ${sqlRate("l_discount")} AS DECIMAL(18,4))) AS DOUBLE) AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= $t0 AND l_shipdate < $t1
       | AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  // Q7: volume shipping between two nations, by year.
  def q7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n1 = Tables.nation(s, dir).select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(s, dir).select($"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(n1), $"s_nationkey" === $"sn_key")
      .join(broadcast(n2), $"c_nationkey" === $"cn_key")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
              ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").cast("long").as("l_year"))
      .agg(d(sum(revenueTerm($"l_extendedprice", $"l_discount"))).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val q7Sql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       | CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
       | CAST(SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       | JOIN customer ON o_custkey = c_custkey
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation n1 ON s_nationkey = n1.n_nationkey
       | JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // Q10: returned-item reporting — top 20 customers by lost revenue.
  def q10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= expr("TIMESTAMP '1996-10-01 00:00:00'") &&
        $"o_orderdate" < expr(t1))
    Tables.lineitem(s, dir).filter($"l_returnflag" === "R")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
      .agg(d(sum(revenueTerm($"l_extendedprice", $"l_discount"))).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
      .select($"c_custkey", $"c_name", $"revenue", $"c_acctbal", $"n_name")
  }

  val q10Sql: String =
    s"""SELECT c_custkey, c_name,
       | CAST(SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue,
       | c_acctbal, n_name
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       | JOIN customer ON o_custkey = c_custkey
       | JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       | AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00' AND o_orderdate < $t1
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // Q12 (adapted: no l_shipmode column): late shipments by order priority.
  def q12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .filter($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 90 DAY"))
      .groupBy($"o_orderpriority")
      .agg(
        sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
        count(lit(1)).as("late_count"))
      .orderBy($"o_orderpriority")
  }

  val q12Sql: String =
    """SELECT o_orderpriority,
      | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      | COUNT(*) AS late_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // Q14: promotion effect — conditional agg ratio, part dim broadcast.
  def q14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = revenueTerm($"l_extendedprice", $"l_discount")
    val zero = lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 4))
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= expr(t0) && $"l_shipdate" < expr("TIMESTAMP '1996-02-01 00:00:00'"))
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .agg(((lit(100.0) * d(sum(when($"p_type".startsWith("PROMO"), rev).otherwise(zero)))) /
        d(sum(rev))).as("promo_revenue"))
  }

  val q14Sql: String =
    s"""SELECT (CAST(100 AS DOUBLE) *
       |  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN ${sqlRevenueTerm("l_extendedprice", "l_discount")}
       |               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)) /
       |  CAST(SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")}) AS DOUBLE) AS promo_revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= $t0 AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'""".stripMargin

  // Q15: top supplier(s) by period revenue (revenue = exact → equality join
  // against the max is deterministic).
  def q15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= expr(t0) && $"l_shipdate" < expr("TIMESTAMP '1996-04-01 00:00:00'"))
      .groupBy($"l_suppkey")
      .agg(d(sum(revenueTerm($"l_extendedprice", $"l_discount"))).as("total_revenue"))
    val top = rev.agg(max($"total_revenue").as("mx"))
    rev.join(broadcast(top), $"total_revenue" === $"mx")
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  val q15Sql: String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |   CAST(SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")}) AS DOUBLE) AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= $t0 AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  // Q17: small-quantity-order revenue. The brand filter keeps whole parts
  // (predicate is on part attrs only), so the per-part average over the
  // broadcast-semi-joined subset equals the average over all of lineitem —
  // compute it with a partitioned window on the 1/25-sized subset (ONE
  // shuffle of the small side) instead of aggregating the full fact table.
  def q17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"l_partkey")
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir).filter($"p_brand" === "Brand#1")
        .select($"p_partkey")), $"l_partkey" === $"p_partkey")
      .withColumn("avg_qty",
        avgExact(sum(qty($"l_quantity")).over(w), count(lit(1)).over(w)))
      .filter($"l_quantity" < lit(0.5) * $"avg_qty")
      .agg((d(sum(money($"l_extendedprice"))) / lit(7.0)).as("avg_yearly"))
  }

  val q17Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem
      | JOIN part ON l_partkey = p_partkey
      | JOIN (SELECT l_partkey AS pk,
      |        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      |       FROM lineitem GROUP BY l_partkey) a ON l_partkey = pk
      |WHERE p_brand = 'Brand#1' AND l_quantity < 0.5 * avg_qty""".stripMargin

  // Q18: large-volume orders.
  def q18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The >150 filter keeps a handful of orders — broadcast the aggregate so
    // neither `orders` nor the agg output is shuffled (without the hint AQE
    // may pick BuildLeft and broadcast the whole orders table).
    val big = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey".as("big_ok"))
      .agg(d(sum(qty($"l_quantity"))).as("sum_qty"))
      .filter($"sum_qty" > 150)
    Tables.orders(s, dir)
      .join(broadcast(big), $"o_orderkey" === $"big_ok")
      .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey",
        date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"), $"o_totalprice", $"sum_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
  }

  val q18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      | o_totalprice, sum_qty
      |FROM orders
      | JOIN (SELECT l_orderkey AS big_ok,
      |        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |       FROM lineitem GROUP BY l_orderkey
      |       HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 150) b
      |   ON o_orderkey = big_ok
      | JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // Q19: discounted revenue, disjunctive brand/size/quantity arms.
  def q19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#1" && $"p_size".between(1, 15) && $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#2" && $"p_size".between(1, 25) && $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#3" && $"p_size".between(1, 50) && $"l_quantity".between(20, 30)))
      .agg(d(sum(revenueTerm($"l_extendedprice", $"l_discount"))).as("revenue"))
  }

  val q19Sql: String =
    s"""SELECT CAST(SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // Q2 (adapted: no partsupp): cheapest supplier per part observed in
  // lineitem unit prices — window rank, deterministic (suppkey tiebreak).
  def q2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val unit = Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey",
        ($"l_extendedprice" / $"l_quantity").as("unit_price"))
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(min($"unit_price").as("min_unit"))
    val w = Window.partitionBy($"l_partkey").orderBy($"min_unit", $"l_suppkey")
    unit.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"l_partkey" < 200)
      .select($"l_partkey", $"l_suppkey", $"min_unit")
      .orderBy($"l_partkey")
  }

  val q2Sql: String =
    """WITH unit AS (
      |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS min_unit
      |  FROM lineitem GROUP BY l_partkey, l_suppkey),
      |ranked AS (
      |  SELECT l_partkey, l_suppkey, min_unit,
      |   ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY min_unit, l_suppkey) AS rn
      |  FROM unit)
      |SELECT l_partkey, l_suppkey, min_unit FROM ranked
      |WHERE rn = 1 AND l_partkey < 200 ORDER BY l_partkey""".stripMargin

  // Q22: customers above average balance with no orders — anti join.
  def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val avgBal = cust.filter($"c_acctbal" > 0)
      .agg(avgExact(sum(money($"c_acctbal")), count(lit(1))).as("ab"))
    val recent = Tables.orders(s, dir)
      .filter($"o_orderdate" >= expr("TIMESTAMP '2000-01-01 00:00:00'"))
    graft.core.ScalarSub.withScalars(cust, avgBal)
      .filter($"c_acctbal" > $"ab")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  val q22Sql: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      |                   FROM customer WHERE c_acctbal > 0)
      | AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                 AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q1_pricing_summary", q1, q1Sql),
    Query("q2_min_cost_supplier", q2, q2Sql),
    Query("q3_shipping_priority", q3, q3Sql),
    Query("q4_order_priority", q4, q4Sql),
    Query("q5_local_supplier", q5, q5Sql),
    Query("q6_forecast_revenue", q6, q6Sql),
    Query("q7_nation_volume", q7, q7Sql),
    Query("q10_returned_items", q10, q10Sql),
    Query("q12_late_shipments", q12, q12Sql),
    Query("q14_promo_effect", q14, q14Sql),
    Query("q15_top_supplier", q15, q15Sql),
    Query("q17_small_qty_revenue", q17, q17Sql),
    Query("q18_large_orders", q18, q18Sql),
    Query("q19_disjunctive_revenue", q19, q19Sql),
    Query("q22_idle_customers", q22, q22Sql),
  )
}
