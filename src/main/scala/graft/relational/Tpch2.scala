package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Oracle, Query, Tables}
import graft.core.Oracle._

/** Second wave of relational coverage: profit roll-ups, scalar-subquery
  * thresholds, NOT-IN supplier exclusion, semi-join chains, and the
  * EXISTS / NOT-EXISTS self-join (TPC-H Q9/Q11/Q16/Q20/Q21 shapes, adapted
  * to the driver schema — no partsupp table, so cost/stock semantics are
  * re-expressed over lineitem; see TESTDATA.md).
  *
  * Scale posture mirrors [[Tpch]]: part/supplier/nation are broadcast dims;
  * the only shuffles are lineitem⋈orders on the join key and the
  * high-cardinality groupBys, all map-side combinable.
  */
object Tpch2 extends graft.core.QueryModule {

  private val t0 = "TIMESTAMP '1996-01-01 00:00:00'"
  private val t1 = "TIMESTAMP '1997-01-01 00:00:00'"

  /** Exact cost term: 10% of retail price × quantity, all decimal.
    * SQL mirror: see [[sqlCost]]. */
  private def costTerm(retail: org.apache.spark.sql.Column,
      quantity: org.apache.spark.sql.Column) =
    ((money(retail) * rate(lit(0.10))).cast(DecimalType(18, 4)) * qty(quantity))
      .cast(DecimalType(18, 4))
  private def sqlCost(retail: String, quantity: String): String =
    s"CAST(CAST(${sqlMoney(retail)} * ${sqlRate("0.10")} AS DECIMAL(18,4)) * ${sqlMoney(quantity)} AS DECIMAL(18,4))"

  // Q9 (adapted): profit by supplier nation and order year for '%red%' parts;
  // profit = revenue − 10%·retail·qty (exact decimals end to end).
  def q9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val redParts = Tables.part(s, dir).filter($"p_name".contains("red"))
      .select($"p_partkey", $"p_retailprice")
    val suppNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    val amount = (revenueTerm($"l_extendedprice", $"l_discount") -
      costTerm($"p_retailprice", $"l_quantity")).cast(DecimalType(19, 4))
    Tables.lineitem(s, dir)
      .join(broadcast(redParts), $"l_partkey" === $"p_partkey")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"supp_nation", year($"o_orderdate").cast("long").as("o_year"))
      .agg(d(sum(amount)).as("sum_profit"))
      .orderBy($"supp_nation", $"o_year")
  }
  val q9Sql: String =
    s"""SELECT n_name AS supp_nation,
       | CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       | CAST(SUM(CAST(${sqlRevenueTerm("l_extendedprice", "l_discount")} -
       |   ${sqlCost("p_retailprice", "l_quantity")} AS DECIMAL(19,4))) AS DOUBLE) AS sum_profit
       |FROM lineitem
       | JOIN part ON l_partkey = p_partkey
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation ON s_nationkey = n_nationkey
       | JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '%red%'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // Q11 (adapted): parts whose revenue from NATION_1 suppliers exceeds a
  // fraction of the national total — scalar aggregate via broadcast cross
  // join, never a driver-side collect.
  def q11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n1Supp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter($"n_name" === "NATION_1")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey")
    // both the per-part values and the grand total stay DECIMAL until the
    // final comparison — a double total would be summation-order-dependent
    val perPart = Tables.lineitem(s, dir)
      .join(broadcast(n1Supp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey")
      .agg(sum(revenueTerm($"l_extendedprice", $"l_discount")).as("vdec"))
    val total = perPart.agg(sum($"vdec").as("tvdec"))
    graft.core.ScalarSub.withScalars(perPart, total)
      .filter(d($"vdec") > lit(0.0015) * d($"tvdec"))
      .select($"l_partkey", d($"vdec").as("value"))
      .orderBy($"value".desc, $"l_partkey")
  }
  val q11Sql: String =
    s"""WITH pp AS (
       |  SELECT l_partkey,
       |   SUM(${sqlRevenueTerm("l_extendedprice", "l_discount")}) AS vdec
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |   JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name = 'NATION_1' GROUP BY l_partkey)
       |SELECT l_partkey, CAST(vdec AS DOUBLE) AS value FROM pp
       |WHERE CAST(vdec AS DOUBLE) > 0.0015 * CAST((SELECT SUM(vdec) FROM pp) AS DOUBLE)
       |ORDER BY value DESC, l_partkey""".stripMargin

  // Q16 (adapted): distinct supplier count per (brand, type, size) for a
  // size set, excluding one brand and complaint-pattern suppliers (NOT IN →
  // broadcast anti join).
  def q16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parts = Tables.part(s, dir)
      .filter($"p_brand" =!= "Brand#1" &&
        $"p_size".isin(1, 5, 9, 13, 17, 21, 25, 29))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    val badSupp = Tables.supplier(s, dir).filter($"s_name".endsWith("7"))
      .select($"s_suppkey".as("bad_sk"))
    Tables.lineitem(s, dir)
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(badSupp), $"l_suppkey" === $"bad_sk", "left_anti")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }
  val q16Sql: String =
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      | AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
      |GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // Q20 (adapted): suppliers who moved > 200 units of PROMO-type parts in
  // 1996 — the HAVING aggregate is supplier-cardinality, joined broadcast.
  def q20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val promoParts = Tables.part(s, dir).filter($"p_type".startsWith("PROMO"))
      .select($"p_partkey")
    val qualified = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= expr(t0) && $"l_shipdate" < expr(t1))
      .join(broadcast(promoParts), $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey")
      .agg(d(sum(qty($"l_quantity"))).as("promo_qty"))
      .filter($"promo_qty" > 200.0)
    Tables.supplier(s, dir)
      .join(broadcast(qualified), $"s_suppkey" === $"l_suppkey")
      .select($"s_suppkey", $"s_name", $"promo_qty")
      .orderBy($"s_suppkey")
  }
  val q20Sql: String =
    s"""SELECT s_suppkey, s_name, promo_qty FROM supplier JOIN (
       |  SELECT l_suppkey,
       |   CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS promo_qty
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE p_type LIKE 'PROMO%' AND l_shipdate >= $t0 AND l_shipdate < $t1
       |  GROUP BY l_suppkey
       |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 200.0) q
       | ON s_suppkey = l_suppkey
       |ORDER BY s_suppkey""".stripMargin

  // Q21 (adapted, no receipt/commit dates): suppliers whose line shipped
  // > 60 days after the order date on a finished multi-supplier order where
  // NO other supplier was late — EXISTS (left semi) + NOT EXISTS (left
  // anti) self-joins on the order key.
  def q21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fOrders = Tables.orders(s, dir).filter($"o_orderstatus" === "F")
      .select($"o_orderkey", $"o_orderdate")
    val late = Tables.lineitem(s, dir)
      .join(fOrders, $"l_orderkey" === $"o_orderkey")
      .filter($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAY"))
      .select($"l_orderkey", $"l_suppkey")
    // EXISTS/NOT-EXISTS as distinct-supplier COUNTS per order: the semi +
    // anti formulation joins the FULL fact table twice; this one shuffles
    // distinct (orderkey, suppkey) pairs with map-side partial dedup once
    // and joins only order-sized aggregates. exists-other-supplier ⇔
    // n_supp > 1; not-exists-other-LATE-supplier ⇔ n_late_supp == 1.
    val lateBy = late.groupBy($"l_orderkey", $"l_suppkey")
      .agg(count(lit(1)).as("nrows"))
    val lateOrd = lateBy.groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_late_supp"))
    val allOrd = Tables.lineitem(s, dir).groupBy($"l_orderkey")
      .agg(countDistinct($"l_suppkey").as("n_supp"))
    lateBy
      .join(lateOrd.filter($"n_late_supp" === 1).select($"l_orderkey"), "l_orderkey")
      .join(allOrd.filter($"n_supp" > 1).select($"l_orderkey"), "l_orderkey")
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(sum($"nrows").as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(20)
  }
  val q21Sql: String =
    """WITH late AS (
      |  SELECT l_orderkey, l_suppkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |SELECT s_name, COUNT(*) AS numwait
      |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
      |              AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.l_orderkey = l1.l_orderkey
      |                  AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  // Q13 (adapted, no o_comment column): distribution of per-customer
  // non-urgent order counts, zero-order customers included. The textbook
  // plan LEFT-OUTER-joins every order row to customer then counts; this
  // one pushes the aggregate BELOW the outer join — orders collapse to
  // (custkey, cnt) with map-side combine first, so the join input is
  // customer-sized on both sides and `coalesce(cnt, 0)` restores the
  // outer-join zeros. Integer counts end to end — hash-exact by nature.
  def q13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perCust = Tables.orders(s, dir)
      .filter(!$"o_orderpriority".startsWith("1-"))
      .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
    Tables.customer(s, dir).select($"c_custkey")
      .join(perCust, $"c_custkey" === $"o_custkey", "left_outer")
      .select(coalesce($"cnt", lit(0L)).as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }
  val q13Sql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q9_profit_by_nation", q9, q9Sql),
    Query("q11_important_parts", q11, q11Sql),
    Query("q13_customer_distribution", q13, q13Sql),
    Query("q16_supplier_counts", q16, q16Sql),
    Query("q20_promo_suppliers", q20, q20Sql),
    Query("q21_sole_late_supplier", q21, q21Sql),
  )
}
