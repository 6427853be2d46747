package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Oracle, Query, Tables}

/** Window-frame / grouping-set / global-span extras rounding out the
  * relational surface (SURVEY W/A2 + north-star additions the reference
  * lacks: rolling frames, rollup).
  */
object Extras extends graft.core.QueryModule {

  // W5+: rolling frame — 4-row moving average of event value per user
  // (rowsBetween; exact decimal sum / window count).
  def w5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      .rowsBetween(-3, 0)
    Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("roll_avg",
        sum(Oracle.money($"value")).over(w).cast("double") / count(lit(1)).over(w))
      .filter($"user_id" < 10)
      .select($"user_id", $"event_id", $"roll_avg")
      .orderBy($"user_id", $"event_id")
  }
  val w5Sql: String =
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) / COUNT(*) OVER w AS roll_avg
      |FROM events
      |WHERE user_id < 10
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // G1: rollup over (returnflag, linestatus) — subtotal + grand-total rows,
  // null keys labelled for a stable hash.
  def g1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg((sum(round($"l_quantity" * 100).cast("long")).cast("double") / 100.0)
          .as("sum_qty"), // exact cents (pf2's discipline), not Decimal agg
        count(lit(1)).as("n"))
      .select(coalesce($"l_returnflag", lit("(all)")).as("returnflag"),
        coalesce($"l_linestatus", lit("(all)")).as("linestatus"),
        $"sum_qty", $"n")
      .orderBy($"returnflag", $"linestatus")
  }
  val g1Sql: String =
    """SELECT coalesce(l_returnflag, '(all)') AS returnflag,
      |  coalesce(l_linestatus, '(all)') AS linestatus,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // G4: cube over (returnflag, linestatus) — all 2² grouping combinations
  // (rollup's row set plus per-linestatus subtotals), null keys labelled
  // for a stable hash, same discipline as g1.
  def g4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg((sum(round($"l_quantity" * 100).cast("long")).cast("double") / 100.0)
          .as("sum_qty"), // exact cents (pf2's discipline), not Decimal agg
        count(lit(1)).as("n"))
      .select(coalesce($"l_returnflag", lit("(all)")).as("returnflag"),
        coalesce($"l_linestatus", lit("(all)")).as("linestatus"),
        $"sum_qty", $"n")
      .orderBy($"returnflag", $"linestatus")
  }
  val g4Sql: String =
    """SELECT coalesce(l_returnflag, '(all)') AS returnflag,
      |  coalesce(l_linestatus, '(all)') AS linestatus,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  // A2: global span = max over per-group maxima minus min over minima
  // (two-level aggregation, enterprise_warp.py:441-443) — per-user spans
  // plus the PTA-wide span appended as user_id = -1.
  def a2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(min(unix_micros($"ts")).as("tmin"), max(unix_micros($"ts")).as("tmax"))
    val global = per.agg(lit(-1L).as("user_id"), min($"tmin").as("tmin"),
      max($"tmax").as("tmax"))
    per.unionByName(global)
      .select($"user_id", ($"tmax" - $"tmin").as("span_us"))
      .orderBy($"user_id")
  }
  val a2Sql: String =
    """WITH per AS (
      |  SELECT user_id, min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax
      |  FROM events GROUP BY user_id)
      |SELECT user_id, tmax - tmin AS span_us FROM per
      |UNION ALL
      |SELECT -1 AS user_id, max(tmax) - min(tmin) AS span_us FROM per
      |ORDER BY user_id""".stripMargin

  // Q8 (adapted): a nation's market share of ASIA-customer revenue by year.
  def q8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = graft.core.Oracle.revenueTerm($"l_extendedprice", $"l_discount")
    val zero = lit(0).cast(DecimalType(18, 4))
    val asiaCust = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey")
    val suppNation = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(asiaCust), $"o_custkey" === $"c_custkey")
      .join(broadcast(suppNation), $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").cast("long").as("o_year"))
      .agg((sum(when($"supp_nation" === "NATION_3", rev).otherwise(zero)).cast("double") /
        sum(rev).cast("double")).as("mkt_share"))
      .orderBy($"o_year")
  }
  val q8Sql: String = {
    val rev = graft.core.Oracle.sqlRevenueTerm("l_extendedprice", "l_discount")
    s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN $rev
       |               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
       |  CAST(SUM($rev) AS DOUBLE) AS mkt_share
       |FROM lineitem
       | JOIN orders ON l_orderkey = o_orderkey
       | JOIN customer ON o_custkey = c_custkey
       | JOIN nation n1 ON c_nationkey = n1.n_nationkey
       | JOIN region ON n1.n_regionkey = r_regionkey
       | JOIN supplier ON l_suppkey = s_suppkey
       | JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |WHERE r_name = 'ASIA'
       |GROUP BY 1 ORDER BY o_year""".stripMargin
  }

  // Q13 lives in Tpch2 (q13_customer_distribution) — the variant that
  // pushes the aggregate below the outer join; the legacy duplicate that
  // sat here was retired (same query family registered twice).

  // G2: pivot — revenue matrix returnflag x linestatus (dynamic columns
  // via groupBy().pivot(); oracle mirrors with conditional aggregation).
  def g2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .pivot($"l_linestatus", Seq("F", "O", "P"))
      .agg(sum(round($"l_quantity" * 100).cast("long")).cast("double") / 100.0)
      .toDF("returnflag", "qty_f", "qty_o", "qty_p")
      .orderBy($"returnflag")
  }
  val g2Sql: String =
    """SELECT l_returnflag AS returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS qty_f,
      |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS qty_o,
      |  CAST(SUM(CASE WHEN l_linestatus = 'P' THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS qty_p
      |FROM lineitem GROUP BY l_returnflag ORDER BY returnflag""".stripMargin

  // RJ1: point-in-interval range join — events landing in the hour after
  // each signup, via [[graft.operators.RangeJoin]] (bucketed equijoin; the
  // oracle uses DuckDB's native inequality join / IEJoin).
  def rj1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).withColumn("us", unix_micros($"ts"))
    val signups = ev.filter($"event_type" === "signup")
      .select($"event_id".as("signup_id"), $"us".as("lo"),
        ($"us" + 3600000000L).as("hi"))
    val points = ev.select($"event_id".as("pid"), $"us".as("pus"))
    graft.operators.RangeJoin.pointInInterval(
        signups, $"lo", $"hi", points, $"pus", 3600000000L)
      .groupBy($"signup_id")
      .agg(count($"pid").as("n_next_hour"))
      .orderBy($"signup_id")
  }
  val rj1Sql: String =
    """WITH ev AS (SELECT event_id, epoch_us(ts) AS us, event_type FROM events),
      |s AS (SELECT event_id AS signup_id, us FROM ev WHERE event_type = 'signup')
      |SELECT signup_id, COUNT(e.event_id) AS n_next_hour
      |FROM s LEFT JOIN ev e ON e.us > s.us AND e.us <= s.us + 3600000000
      |GROUP BY signup_id ORDER BY signup_id""".stripMargin

  // RJ2: keyed band join on the NATIVE exec — per-user activity in the
  // hour after each signup via [[graft.plans.BandJoinExec]] (logical node →
  // strategy → physical two-pointer merge whose buffer is bounded by band
  // occupancy, not key-group size — the hot-key-safe shape; see
  // BandJoinPlan.scala). rj1 is the unkeyed bucketized variant; rj2 adds
  // the user key and exercises the whole-operator ladder. Oracle = DuckDB's
  // native inequality join (IEJoin) over the same predicate.
  def rj2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", unix_micros($"ts").as("ts"))
    val signups = ev.filter($"event_type" === "signup")
      .select($"event_id".as("signup_id"), $"user_id", $"ts")
    val pts = ev.select($"user_id", $"ts",
      $"event_id".as("pid"), $"event_type".as("ptype"))
    graft.plans.NativeBandJoin.after(signups, pts, "user_id", "ts",
        Seq("pid", "ptype"), band = 3600000000L)
      .groupBy($"signup_id")
      .agg(count(lit(1)).as("n_band"),
        countDistinct($"ptype").as("n_types"),
        min($"pid").as("first_pid"))
      .orderBy($"signup_id")
  }
  val rj2Sql: String =
    """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      |            FROM events),
      |s AS (SELECT event_id AS signup_id, user_id, us FROM ev
      |      WHERE event_type = 'signup')
      |SELECT s.signup_id, COUNT(*) AS n_band,
      |  CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types,
      |  MIN(e.event_id) AS first_pid
      |FROM s JOIN ev e ON e.user_id = s.user_id
      |  AND e.us > s.us AND e.us <= s.us + 3600000000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // OI2: interval×interval overlap join — signup attention windows (1 h)
  // overlapping purchase windows (30 min), via the native sweep exec
  // ([[graft.plans.IntervalJoinExec]]): coarse 6 h chunks set parallelism
  // only (replication ≈ 1 for ≤1 h intervals), and pair enumeration inside
  // a chunk is one sweep-line pass, O(rows + output) — no bucket-width
  // candidate fan-out, no claim post-filter. The oracle runs the plain
  // inequality join (DuckDB IEJoin); in stock Spark that join shape is a
  // BroadcastNestedLoopJoin, unusable with two fact-sized sides.
  def oi2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).withColumn("us", unix_micros($"ts"))
    val su = ev.filter($"event_type" === "signup")
      .select($"event_id".as("signup_id"), $"us".as("slo"),
        ($"us" + 3600000000L).as("shi"))
    val pu = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"us".as("plo"),
        ($"us" + 1800000000L).as("phi"))
    graft.plans.NativeIntervalJoin.overlap(
        su, $"slo", $"shi", pu, $"plo", $"phi",
        payload = Seq("purchase_id"), chunkWidth = 21600000000L)
      .groupBy(expr("(slo div 3600000000) % 24").as("hour"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"signup_id").as("n_signups"),
        countDistinct($"purchase_id").as("n_purchases"))
      .orderBy($"hour")
  }
  val oi2Sql: String =
    """WITH ev AS (SELECT event_id, epoch_us(ts) AS us, event_type FROM events),
      |s AS (SELECT event_id AS signup_id, us AS slo, us + 3600000000 AS shi
      |      FROM ev WHERE event_type = 'signup'),
      |p AS (SELECT event_id AS purchase_id, us AS plo, us + 1800000000 AS phi
      |      FROM ev WHERE event_type = 'purchase')
      |SELECT (slo // 3600000000) % 24 AS hour, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT signup_id) AS n_signups,
      |  COUNT(DISTINCT purchase_id) AS n_purchases
      |FROM s JOIN p ON slo < phi AND plo < shi
      |GROUP BY 1 ORDER BY hour""".stripMargin

  // W8: lead/lag navigation — per-user delta to the previous value and the
  // next event's type.
  def w8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.events(s, dir)
      .filter($"user_id" < 5)
      .withColumn("us", unix_micros($"ts"))
      .select($"user_id", $"event_id",
        ($"value" - lag($"value", 1).over(w)).as("dv"),
        lead($"event_type", 1).over(w).as("next_type"))
      .orderBy($"user_id", $"event_id")
  }
  val w8Sql: String =
    """SELECT user_id, event_id,
      |  value - LAG(value) OVER w AS dv, LEAD(event_type) OVER w AS next_type
      |FROM events WHERE user_id < 5
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |ORDER BY user_id, event_id""".stripMargin

  // G3: GROUPING SETS — independent subtotals by returnflag and by
  // linestatus in one pass (SQL surface; rollup/cube are g1/g2).
  def g3(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("g3_lineitem")
    s.sql("""
      SELECT coalesce(l_returnflag, '(all)') AS returnflag,
             coalesce(l_linestatus, '(all)') AS linestatus,
             CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
             COUNT(*) AS n
      FROM g3_lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      ORDER BY returnflag, linestatus""")
  }
  val g3Sql: String =
    """SELECT coalesce(l_returnflag, '(all)') AS returnflag,
      |  coalesce(l_linestatus, '(all)') AS linestatus,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY returnflag, linestatus""".stripMargin

  // SJ1: hot-key-safe revenue by nation — the orders⋈customer join goes
  // through SaltedJoin (deterministic 8-way salt; dimension replicated),
  // so one hot customer key cannot pin a 100 TB shuffle partition. Result
  // is oracle-identical to the plain join by construction.
  def sj1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val facts = Tables.orders(s, dir).select($"o_custkey".as("custkey"), $"o_totalprice")
    val dim = Tables.customer(s, dir).select($"c_custkey".as("custkey"), $"c_nationkey")
    graft.operators.SaltedJoin.join(facts, dim, "custkey", salts = 8)
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(Oracle.money($"o_totalprice")).cast("double").as("sum_price"))
      .orderBy($"c_nationkey")
  }
  val sj1Sql: String =
    """SELECT c_nationkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // TK1: top-3 lineitems by price per supplier via the mergeable
  // TopKByScore aggregate — the shuffle carries ≤3 (score,id) pairs per
  // supplier (map-side partial top-k), where the oracle's ROW_NUMBER
  // window sorts every row of every partition. Score is exact decimal
  // cents; rowid = orderkey*8+linenumber is a unique total-order tiebreak
  // (linenumber ≤ 7).
  def tk1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val topk = udaf(new graft.functions.Aggregators.TopKByScore(3))
    Tables.lineitem(s, dir)
      .select($"l_suppkey",
        (Oracle.money($"l_extendedprice") * 100).cast("long").as("cents"),
        ($"l_orderkey" * 8 + $"l_linenumber").as("rowid"))
      .groupBy($"l_suppkey")
      .agg(topk($"cents", $"rowid").as("ids"))
      .select($"l_suppkey", posexplode($"ids").as(Seq("rk0", "rowid")))
      .select($"l_suppkey", ($"rk0" + 1).cast("long").as("rk"),
        expr("rowid div 8").as("o_key"), expr("rowid % 8").as("line_no"))
      .orderBy($"l_suppkey", $"rk")
  }
  val tk1Sql: String =
    """SELECT l_suppkey, rk, o_key, line_no FROM (
      |  SELECT l_suppkey,
      |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
      |      ORDER BY CAST(l_extendedprice AS DECIMAL(12,2)) DESC,
      |               l_orderkey * 8 + l_linenumber) AS rk,
      |    l_orderkey AS o_key, CAST(l_linenumber AS BIGINT) AS line_no
      |  FROM lineitem) q
      |WHERE rk <= 3 ORDER BY l_suppkey, rk""".stripMargin

  // DQ1: declarative data-quality audit (the Deequ-style constraint
  // suite): referential integrity as anti-join counts, key uniqueness as
  // excess-row counts, domain checks as one conditional-aggregation pass
  // over the fact table. One row per constraint — the audit artifact a
  // 100 TB ingest gate emits. All checks are counts → map-side
  // combinable; the orphan checks shuffle only the join keys.
  def dq1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val ords = Tables.orders(s, dir)
    def row(name: String, violations: org.apache.spark.sql.Column,
        checked: org.apache.spark.sql.Column, src: DataFrame): DataFrame =
      src.agg(violations.cast("long").as("n_violations"),
        checked.cast("long").as("n_checked"))
        .select(lit(name).as("chk"), $"n_violations", $"n_checked")
    def orphanRow(name: String, src: DataFrame): DataFrame =
      src.agg(count(lit(1)).cast("long").as("n_violations"))
        .select(lit(name).as("chk"), $"n_violations",
          lit(null).cast("long").as("n_checked"))
    val orphanLi = orphanRow("fk_lineitem_orders",
      li.join(ords.select($"o_orderkey"), $"l_orderkey" === $"o_orderkey", "left_anti"))
    val orphanOrd = orphanRow("fk_orders_customer",
      ords.join(Tables.customer(s, dir).select($"c_custkey"),
        $"o_custkey" === $"c_custkey", "left_anti"))
    val dupKeys = row("pk_lineitem_unique",
      sum($"cnt" - 1), sum($"cnt"),
      li.groupBy($"l_orderkey", $"l_linenumber").agg(count(lit(1)).as("cnt")))
    val domain = li.agg(
      sum(when($"l_shipdate".isNull, 1L).otherwise(0L)).as("null_ship"),
      sum(when($"l_quantity" <= 0, 1L).otherwise(0L)).as("nonpos_qty"),
      sum(when(!$"l_discount".between(0.0, 1.0), 1L).otherwise(0L)).as("bad_disc"),
      count(lit(1)).as("n"))
    val domainRows = Seq(
      ("notnull_shipdate", "null_ship"), ("positive_quantity", "nonpos_qty"),
      ("discount_in_unit_range", "bad_disc")).map { case (nm, c) =>
      domain.select(lit(nm).as("chk"), col(c).cast("long").as("n_violations"),
        $"n".cast("long").as("n_checked"))
    }
    val shipAfter = row("ship_after_orderdate",
      sum(when($"l_shipdate" < $"o_orderdate", 1L).otherwise(0L)), count(lit(1)),
      li.join(ords.select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey"))
    (Seq(orphanLi, orphanOrd, dupKeys, shipAfter) ++ domainRows)
      .reduce(_ unionByName _)
      .orderBy($"chk")
  }
  val dq1Sql: String =
    """SELECT * FROM (
      |  SELECT 'fk_lineitem_orders' AS chk,
      |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations,
      |    CAST(NULL AS BIGINT) AS n_checked
      |  UNION ALL
      |  SELECT 'fk_orders_customer',
      |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |    CAST(NULL AS BIGINT)
      |  UNION ALL
      |  SELECT 'pk_lineitem_unique', CAST(SUM(cnt - 1) AS BIGINT),
      |    CAST(SUM(cnt) AS BIGINT) FROM
      |    (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey, l_linenumber)
      |  UNION ALL
      |  SELECT 'ship_after_orderdate',
      |    CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(*)
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  UNION ALL
      |  SELECT 'notnull_shipdate',
      |    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(*) FROM lineitem
      |  UNION ALL
      |  SELECT 'positive_quantity',
      |    CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT),
      |    COUNT(*) FROM lineitem
      |  UNION ALL
      |  SELECT 'discount_in_unit_range',
      |    CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 1.0 THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    COUNT(*) FROM lineitem
      |) ORDER BY chk""".stripMargin

  // FZ1: fuzzy matching — near-identical part names by edit distance,
  // blocked on the noun token so the candidate set is dictionary-sized
  // (the block-then-verify shape every 100 TB entity-resolution job
  // uses; levenshtein is codegen'd in both engines).
  def fz1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Tables.part(s, dir).select($"p_name").distinct()
      .withColumn("noun", element_at(split($"p_name", " "), 2))
    val a = names.select($"p_name".as("name_a"), $"noun")
    val b = names.select($"p_name".as("name_b"), $"noun")
    a.join(b, "noun")
      .filter($"name_a" < $"name_b")
      .withColumn("dist", levenshtein($"name_a", $"name_b"))
      .filter($"dist" <= 3)
      .select($"name_a", $"name_b", $"dist".cast("long").as("dist"))
      .orderBy($"name_a", $"name_b")
  }
  val fz1Sql: String =
    """WITH names AS (SELECT DISTINCT p_name FROM part),
      |b AS (SELECT p_name, string_split(p_name, ' ')[2] AS noun FROM names)
      |SELECT a.p_name AS name_a, c.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS dist
      |FROM b a JOIN b c ON a.noun = c.noun AND a.p_name < c.p_name
      |WHERE levenshtein(a.p_name, c.p_name) <= 3
      |ORDER BY name_a, name_b""".stripMargin

  /** ka1: k-anonymity audit at two generalization levels — the
    * release-safety check a training-data pipeline runs before shipping a
    * table keyed by quasi-identifiers. Level `nation_segment` groups by
    * (c_nationkey, c_mktsegment); level `segment` is its generalization
    * (drop the nation). Per level: group count, groups under k=5, the
    * smallest group, and how many ROWS sit in violating groups (what
    * suppression would delete). Two hash aggregations + a 2-row union —
    * no window, no join; at 100 TB this is one map-side-combined shuffle
    * per level. Integer counts only: hash-exact.
    */
  def ka1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def level(name: String, cols: Column*): DataFrame =
      Tables.customer(s, dir)
        .groupBy(cols: _*).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when($"n" < 5, 1L).otherwise(0L)).as("groups_at_risk"),
          min($"n").as("min_group"),
          sum(when($"n" < 5, $"n").otherwise(0L)).as("rows_at_risk"))
        .select(lit(name).as("level"), $"n_groups", $"groups_at_risk",
          $"min_group", $"rows_at_risk")
    level("nation_segment", $"c_nationkey", $"c_mktsegment")
      .union(level("segment", $"c_mktsegment"))
      .orderBy($"level")
  }
  val ka1Sql: String =
    """WITH g1 AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      |            FROM customer GROUP BY 1, 2),
      |g2 AS (SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY 1)
      |SELECT 'nation_segment' AS level, COUNT(*) AS n_groups,
      |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS groups_at_risk,
      |  MIN(n) AS min_group,
      |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk
      |FROM g1
      |UNION ALL
      |SELECT 'segment' AS level, COUNT(*) AS n_groups,
      |  CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS groups_at_risk,
      |  MIN(n) AS min_group,
      |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk
      |FROM g2
      |ORDER BY level""".stripMargin

  /** pf1: column-statistics profiler — per profiled column: row count,
    * nulls, exact distinct count, and the exact top value with its count
    * (the stats a cost-based optimizer or data-quality dashboard feeds
    * on). ONE pass over the fact table: values pivot long via a 4-wide
    * explode, then two hash aggregations — (col, value) counts, then
    * per-col stats with the argmax folded into the same aggregate as
    * `max(struct(cnt, v))` (ties: larger value string; the oracle's
    * ROW_NUMBER mirrors it) — no window, no per-column rescan. Discrete
    * columns only: double/timestamp rendering is not portable across
    * engines, integer/varchar casts are.
    */
  /** One-pass profile of `cols` over any frame (pf1's engine; top value
    * NULL when a column is all-null). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(explode(array(cols.map(c =>
        struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*)).as("x"))
      .groupBy($"x.c".as("col_name"), $"x.v".as("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"col_name")
      .agg(sum($"cnt").as("n"),
        coalesce(sum(when($"v".isNull, $"cnt")), lit(0L)).as("n_null"),
        count(when($"v".isNotNull, lit(1))).as("n_distinct"),
        max(when($"v".isNotNull, struct($"cnt", $"v"))).as("top"))
      .select($"col_name", $"n", $"n_null", $"n_distinct",
        $"top.v".as("top_value"), $"top.cnt".as("top_n"))
      .orderBy($"col_name")
  }

  def pf1(s: SparkSession, dir: String): DataFrame =
    profile(Tables.lineitem(s, dir),
      Seq("l_returnflag", "l_linestatus", "l_linenumber", "l_suppkey"))

  /** pf2: numeric column profile — count/nulls/min/max/sum/mean for the
    * measure columns, same one-pass explode shape as pf1. The sum
    * accumulates in DECIMAL(12,2) (exact, order-independent) and only the
    * FINAL value casts to double; the mean divides the two final scalars
    * as doubles (identical operands → identical IEEE result on both
    * engines). min/max are comparisons — exact by construction.
    */
  def pf2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    // ONE scan, no row blowup: all 4 columns' aggregates ride a single
    // partial-agg pass (24 agg buffers over the fact rows), then the
    // row-per-column shape is unpivoted from the 1-ROW result. The earlier
    // explode-then-groupBy form shuffled a 4x-multiplied copy of the fact
    // table to produce the same 4 rows — measured ~4x slower at sf0.1,
    // and the gap only widens with data (this is the textbook columnar
    // profiler: stats cost one pass, never a reshape of the data).
    // exact sums in integer CENTS, not DecimalType: the inputs are 2-dp
    // money, so round(v*100) is an exact long and the long sum is the
    // decimal sum bit-for-bit (both /100 to the same nearest double) —
    // while Spark's Decimal agg buffer measured ~6x the per-row cost of a
    // long. Same fixed-point discipline as PageRank's microranks.
    val aggs = cols.flatMap { c =>
      Seq(coalesce(sum(when(col(c).isNull, 1L)), lit(0L)).as(s"null_$c"),
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        (sum(round(col(c) * 100).cast("long")).cast("double") / 100.0)
          .as(s"sum_$c"),
        count(col(c)).as(s"nv_$c"))
    }
    Tables.lineitem(s, dir)
      .agg(count(lit(1)).as("n"), aggs: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), $"n", col(s"null_$c").as("n_null"),
        col(s"min_$c").as("min_v"), col(s"max_$c").as("max_v"),
        col(s"sum_$c").as("sum_v"),
        (col(s"sum_$c") / col(s"nv_$c").cast("double")).as("mean_v"))): _*)).as("x"))
      .select($"x.*")
      .orderBy($"col_name")
  }
  val pf2Sql: String =
    """WITH vals AS (
      |  SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem),
      |a AS (SELECT col_name, COUNT(*) AS n,
      |    CAST(COALESCE(SUM(CASE WHEN v IS NULL THEN 1 END), 0) AS BIGINT) AS n_null,
      |    MIN(v) AS min_v, MAX(v) AS max_v,
      |    CAST(SUM(CAST(round(v * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_v,
      |    COUNT(v) AS nv
      |  FROM vals GROUP BY 1)
      |SELECT col_name, n, n_null, min_v, max_v, sum_v,
      |  sum_v / CAST(nv AS DOUBLE) AS mean_v
      |FROM a ORDER BY col_name""".stripMargin
  val pf1Sql: String =
    """WITH vals AS (
      |  SELECT 'l_returnflag' AS col_name, CAST(l_returnflag AS VARCHAR) AS v FROM lineitem
      |  UNION ALL SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR) FROM lineitem
      |  UNION ALL SELECT 'l_linenumber', CAST(l_linenumber AS VARCHAR) FROM lineitem
      |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem),
      |c AS (SELECT col_name, v, COUNT(*) AS cnt FROM vals GROUP BY 1, 2),
      |agg AS (SELECT col_name, CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(COALESCE(SUM(CASE WHEN v IS NULL THEN cnt END), 0) AS BIGINT) AS n_null,
      |    COUNT(CASE WHEN v IS NOT NULL THEN 1 END) AS n_distinct
      |  FROM c GROUP BY 1),
      |top AS (SELECT col_name, v AS top_value, cnt AS top_n FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY col_name
      |                                 ORDER BY cnt DESC, v DESC) AS rk
      |    FROM c WHERE v IS NOT NULL) r WHERE rk = 1)
      |SELECT a.col_name AS col_name, n, n_null, n_distinct, top_value, top_n
      |FROM agg a LEFT JOIN top t ON a.col_name = t.col_name
      |ORDER BY col_name""".stripMargin

  /** w12: time-RANGE window frame — trailing 30-minute spend per user
    * (`RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW` over event-time
    * µs). The frame is VALUE-bounded, not row-bounded (w5's ROWS frame):
    * same-timestamp peers enter together on both engines, and the window
    * stays partitioned per user. Decimal-exact sum, count is integral.
    */
  def w12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-1800000000L, 0L)
    Tables.events(s, dir)
      .filter($"user_id" < 10)
      .withColumn("us", unix_micros($"ts"))
      .select($"user_id", $"event_id", $"us",
        sum(Oracle.money($"value")).over(w).cast("double").as("spend_30m"),
        count(lit(1)).over(w).as("n_30m"))
      .orderBy($"user_id", $"us", $"event_id")
  }
  val w12Sql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS us,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS spend_30m,
      |  COUNT(*) OVER w AS n_30m
      |FROM events WHERE user_id < 10
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, us, event_id""".stripMargin

  /** w11: the ranking-function family under TIES — rank (gaps),
    * dense_rank (no gaps) and cume_dist over docs ordered by n_chars
    * within language. Tie groups make the three functions genuinely
    * diverge; each function's value is well-defined under ties regardless
    * of intra-peer order, so the output is deterministic without a
    * tiebreak in the window sort. cume_dist is an integer ratio of
    * identical longs — bit-exact on both engines.
    */
  def w11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"n_chars".desc)
    Tables.documents(s, dir)
      .filter($"doc_id" < 300)
      .select($"lang", $"doc_id", $"n_chars",
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"),
        cume_dist().over(w).as("cd"))
      .orderBy($"lang", $"rk", $"doc_id")
  }
  val w11Sql: String =
    """SELECT lang, doc_id, n_chars,
      |  CAST(RANK() OVER w AS BIGINT) AS rk,
      |  CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
      |  CUME_DIST() OVER w AS cd
      |FROM documents WHERE doc_id < 300
      |WINDOW w AS (PARTITION BY lang ORDER BY n_chars DESC)
      |ORDER BY lang, rk, doc_id""".stripMargin

  /** sky1: Pareto front over 1996 orders — maximize o_totalprice, minimize
    * order date ("largest revenue, soonest"). Runs through
    * [[graft.operators.Skyline.pareto2D]]: per-partition dominance sweep +
    * one front-sized merge — never the oracle's O(n²) NOT EXISTS or a
    * single-partition running-min window. The date keys as exact integer
    * epoch-µs (no double rounding anywhere; o_totalprice compares as the
    * identical parquet double in both engines).
    */
  def sky1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
      .filter(year($"o_orderdate") === 1996)
      .select($"o_orderkey", $"o_totalprice",
        unix_micros($"o_orderdate".cast("timestamp")).as("od_us"))
    graft.operators.Skyline.pareto2D(o, $"o_totalprice", $"od_us")
      .orderBy($"o_totalprice".desc, $"od_us", $"o_orderkey")
  }
  val sky1Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_totalprice, epoch_us(o_orderdate) AS od_us
      |  FROM orders WHERE year(o_orderdate) = 1996)
      |SELECT o_orderkey, o_totalprice, od_us
      |FROM o a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM o b
      |  WHERE b.o_totalprice >= a.o_totalprice AND b.od_us <= a.od_us
      |    AND (b.o_totalprice > a.o_totalprice OR b.od_us < a.od_us))
      |ORDER BY o_totalprice DESC, od_us, o_orderkey""".stripMargin

  // DL1: transposition-aware fuzzy linkage — unrestricted Damerau-
  // Levenshtein as a native codegen'd Catalyst expression (Spark ships no
  // transposition edit distance; graft.functions.DamerauLevenshtein matches
  // DuckDB's byte-based semantics exactly). Same block-then-verify shape as
  // fz1 plus a byte-length band (|len(a)-len(b)| is a DL lower bound, so
  // the band is a free pre-filter that prunes the quadratic verify stage
  // before any DP matrix is allocated). Both distances emitted so the
  // oracle cross-checks dl <= lev on every surviving pair.
  def dl1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Tables.part(s, dir).select($"p_name").distinct()
      .withColumn("noun", element_at(split($"p_name", " "), 2))
    val a = names.select($"p_name".as("name_a"), $"noun")
    val b = names.select($"p_name".as("name_b"), $"noun")
    a.join(b, "noun")
      .filter($"name_a" < $"name_b")
      .filter(abs(length($"name_a") - length($"name_b")) <= 2)
      .withColumn("dl", graft.functions.DamerauLevenshtein.dl($"name_a", $"name_b"))
      .filter($"dl" <= 2)
      .select($"name_a", $"name_b", $"dl".cast("long").as("dl"),
        levenshtein($"name_a", $"name_b").cast("long").as("lev"))
      .orderBy($"name_a", $"name_b")
  }
  val dl1Sql: String =
    """WITH names AS (SELECT DISTINCT p_name FROM part),
      |b AS (SELECT p_name, string_split(p_name, ' ')[2] AS noun FROM names)
      |SELECT a.p_name AS name_a, c.p_name AS name_b,
      |  CAST(damerau_levenshtein(a.p_name, c.p_name) AS BIGINT) AS dl,
      |  CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS lev
      |FROM b a JOIN b c ON a.noun = c.noun AND a.p_name < c.p_name
      |WHERE abs(length(a.p_name) - length(c.p_name)) <= 2
      |  AND damerau_levenshtein(a.p_name, c.p_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  // SNB1: sorted-neighborhood blocking — the third blocking strategy of
  // the entity-resolution family (dl1 blocks by a shared noun, d9 by
  // prefix tokens; SNB sorts on a normalized key and compares each record
  // only to its w nearest neighbors IN SORT ORDER, catching near-dupes
  // that share no block key). The global sort is GlobalRank's range
  // shuffle (never a single-partition window); the neighbor pairing is an
  // EQUI-join — each row projects (rn + off) for off ∈ 1..3 and joins back
  // on rn — so candidate volume is exactly 3n regardless of key skew, the
  // property that makes SNB the safe choice when hash blocks explode.
  // Distance = codegen'd Damerau–Levenshtein on the 24-char keys.
  def snb1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = Tables.documents(s, dir)
      .select($"doc_id", substring(lower($"text"), 1, 24).as("key"))
    val r = graft.operators.GlobalRank.withRowNumber(
      k, Seq($"key", $"doc_id"), rn = "rn", nTotal = None)
    val probes = r
      .withColumn("off", explode(array(lit(1L), lit(2L), lit(3L))))
      .select($"doc_id".as("doc_a"), $"key".as("key_a"),
        ($"rn" + $"off").as("rn"), $"off")
    probes.join(r.select($"doc_id".as("doc_b"), $"key".as("key_b"), $"rn"),
        Seq("rn"))
      .withColumn("dl", graft.functions.DamerauLevenshtein.dl($"key_a", $"key_b"))
      .filter($"dl" <= 8)
      .select($"doc_a", $"doc_b", $"off", $"dl".cast("long").as("dl"))
      .orderBy($"doc_a", $"doc_b")
  }
  val snb1Sql: String =
    """WITH k AS (SELECT doc_id, substr(lower(text), 1, 24) AS key FROM documents),
      |r AS (SELECT doc_id, key,
      |        CAST(ROW_NUMBER() OVER (ORDER BY key, doc_id) AS BIGINT) AS rn
      |      FROM k),
      |o AS (SELECT unnest([1, 2, 3]) AS off),
      |p AS (SELECT a.doc_id AS doc_a, a.key AS key_a, a.rn + o.off AS rn,
      |        CAST(o.off AS BIGINT) AS off
      |      FROM r a CROSS JOIN o)
      |SELECT p.doc_a, b.doc_id AS doc_b, p.off,
      |  CAST(damerau_levenshtein(p.key_a, b.key) AS BIGINT) AS dl
      |FROM p JOIN r b USING (rn)
      |WHERE damerau_levenshtein(p.key_a, b.key) <= 8
      |ORDER BY doc_a, doc_b""".stripMargin

  // AMS1: AMS F2 sketch (Alon–Matias–Szegedy, STOC '96) — the second
  // frequency moment Σ_k c_k², which IS the self-join size of lineitem on
  // l_partkey and the statistic a distributed optimizer needs to size a
  // skewed shuffle join before running it. Eight independent ±1-hash
  // estimators (avalanched, r-salted) are each ONE sum over the scan —
  // sketch state is 8 longs total, merged associatively — against the
  // exact F2 from the per-key count aggregate. All-integer signs, sums and
  // squares (DECIMAL(38,0) for the squares at corpus scale); the relative
  // error of the estimator mean is the only double.
  def ams1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_partkey".as("k"))
    // staged columns: avalanche state h_r first, then the ±1 sign s_r
    // (expr() references them by name; keeps each codegen expr small)
    val withH = (0 until 8).foldLeft(li) { (df, r) =>
      df.withColumn(s"h$r",
        (($"k" % lit(2147483648L)) * lit(2654435761L) + lit(12345L) +
          lit(r.toLong) * lit(1442695041L)) % lit(4294967296L))
    }
    val withS = (0 until 8).foldLeft(withH) { (df, r) =>
      df.withColumn(s"s$r",
        lit(1L) - lit(2L) * expr(s"((h$r ^ shiftright(h$r, 16)) div 128) % 2"))
    }
    val sumCols = (0 until 8).map(r => sum(col(s"s$r")).as(s"sum$r"))
    val sk = withS.agg(sumCols.head, sumCols.tail: _*)
    val d38 = DecimalType(38, 0)
    val estCols = (0 until 8).map(r =>
      (col(s"sum$r").cast(d38) * col(s"sum$r")).cast(d38).as(s"est$r"))
    val ests = sk.select(estCols: _*)
    val exact = li.groupBy($"k").agg(count(lit(1)).as("c"))
      .agg(sum(($"c".cast(d38) * $"c").cast(d38)).cast(d38).as("exact_f2"))
    val meanEst = (0 until 8).map(r => col(s"est$r").cast("double")).reduce(_ + _) / lit(8.0)
    // readout in BIGINT: the DECIMAL(38,0) internals guard the multiply,
    // but the emitted values fit a long with decades of headroom and
    // BIGINT round-trips identically through every client (DuckDB reads
    // DECIMAL(38,0) back as float64, which breaks value-hash parity)
    graft.core.ScalarSub.withScalars(ests, exact)
      .select(($"exact_f2".cast("long").as("exact_f2") +:
        (0 until 8).map(r => col(s"est$r").cast("long").as(s"est$r"))) :+
        round((meanEst - $"exact_f2".cast("double")) / $"exact_f2".cast("double"), 9)
          .as("mean_rel_err"): _*)
  }
  val ams1Sql: String = {
    val hDefs = (0 until 8).map(r =>
      s"((k % 2147483648) * 2654435761 + 12345 + CAST($r AS BIGINT) * 1442695041) % 4294967296 AS h$r")
      .mkString(", ")
    val sDefs = (0 until 8).map(r =>
      s"1 - 2 * ((xor(h$r, h$r >> 16) // 128) % 2) AS s$r").mkString(", ")
    val sums = (0 until 8).map(r => s"CAST(SUM(s$r) AS BIGINT) AS sum$r").mkString(", ")
    val ests = (0 until 8).map(r =>
      s"CAST(CAST(sum$r AS DECIMAL(38,0)) * sum$r AS DECIMAL(38,0)) AS est$r").mkString(", ")
    val meanEst = "(" + (0 until 8).map(r => s"CAST(est$r AS DOUBLE)").mkString(" + ") + ") / 8.0"
    s"""WITH li AS (SELECT l_partkey AS k FROM lineitem),
       |h AS (SELECT k, $hDefs FROM li),
       |sg AS (SELECT $sDefs FROM h),
       |sk AS (SELECT $sums FROM sg),
       |es AS (SELECT $ests FROM sk),
       |ex AS (SELECT CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS exact_f2
       |       FROM (SELECT k, COUNT(*) AS c FROM li GROUP BY k) t)
       |SELECT CAST(exact_f2 AS BIGINT) AS exact_f2,
       |  ${(0 until 8).map(r => s"CAST(est$r AS BIGINT) AS est$r").mkString(", ")},
       |  round(($meanEst - CAST(exact_f2 AS DOUBLE)) / CAST(exact_f2 AS DOUBLE), 9)
       |    AS mean_rel_err
       |FROM es, ex""".stripMargin
  }

  // SKEW1: key-skew audit on the fact table's join/agg key — the
  // repartition/salting advisor every 100 TB shuffle plan starts from.
  // Two hash aggregations: per-key counts (THE shuffle any groupBy on this
  // key would pay), then a single-row fold; the per-key relation reads the
  // 1-row stats via a scalar subquery (inlined literal, never a shuffle).
  // hot = keys above 2x the mean — the population AQE skew-join handling
  // or salting would target; hot_rows_share says how much of the table
  // they drag.
  def skew1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.events(s, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
    val base = counts.agg(count(lit(1)).as("n_keys"),
      sum($"cnt").as("n_rows"), max($"cnt").as("max_cnt"), avg($"cnt").as("avg"))
    graft.core.ScalarSub.withScalars(counts, base)
      .withColumn("hot", ($"cnt" > $"avg" * 2).cast("long"))
      .agg(max($"n_keys").as("n_keys"), max($"n_rows").as("n_rows"),
        max($"max_cnt").as("max_cnt"), round(max($"avg"), 9).as("avg_cnt"),
        round(max($"max_cnt") / max($"avg"), 9).as("skew_ratio"),
        sum($"hot").as("n_hot_keys"),
        round(sum(when($"hot" === 1, $"cnt").otherwise(0L)).cast("double") /
          max($"n_rows"), 9).as("hot_rows_share"))
  }
  val skew1Sql: String =
    """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
      |s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |        MAX(cnt) AS max_cnt, AVG(cnt) AS avg FROM c)
      |SELECT n_keys, n_rows, max_cnt, round(avg, 9) AS avg_cnt,
      |  round(max_cnt / avg, 9) AS skew_ratio,
      |  CAST(SUM(CASE WHEN cnt > avg * 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_keys,
      |  round(CAST(SUM(CASE WHEN cnt > avg * 2 THEN cnt ELSE 0 END) AS DOUBLE)
      |    / n_rows, 9) AS hot_rows_share
      |FROM c, s GROUP BY n_keys, n_rows, max_cnt, avg""".stripMargin

  // RI1: referential-integrity audit of the whole star schema — one row
  // per foreign-key edge with its orphan count. Each edge is ONE pass:
  // fact LEFT JOIN dim on the key (dims broadcast; the lineitem→orders
  // edge is the lone big–big sort-merge) counting rows and null-probe
  // misses together — never a separate COUNT job per side. The
  // events.user_id→customer edge crosses the behavioral/relational domain
  // boundary — the edge most likely to go red after an upstream
  // regeneration, which is exactly what the audit exists to catch (the
  // oracle pins whatever the orphan count is, zero or not). At 100 TB
  // this is the data-contract gate run before every training export —
  // cheap (counts only), embarrassingly parallel across edges.
  def ri1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def edge(name: String, fact: DataFrame, fk: String,
             dim: DataFrame, pk: String): DataFrame =
      fact.select(col(fk).as("k"))
        .join(dim.select(col(pk).as("k"), lit(1).as("hit")), Seq("k"), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"hit".isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("fk_edge"), $"n_rows", $"n_orphans",
          ($"n_orphans" === 0L).as("ok"))
    val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir); val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir); val r = Tables.region(s, dir)
    Seq(
      edge("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
      edge("events.user_id->customer", Tables.events(s, dir), "user_id", c, "c_custkey"),
      edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
      edge("lineitem.l_partkey->part", li, "l_partkey", Tables.part(s, dir), "p_partkey"),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
      edge("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey"),
      edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
      edge("supplier.s_nationkey->nation", su, "s_nationkey", n, "n_nationkey"))
      .reduce(_ unionAll _)
      .orderBy($"fk_edge")
  }
  val ri1Sql: String = {
    def edge(name: String, fact: String, fk: String, dim: String, pk: String) =
      s"""SELECT '$name' AS fk_edge, COUNT(*) AS n_rows,
         |  CAST(SUM(CASE WHEN d.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
         |  CAST(SUM(CASE WHEN d.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) = 0 AS ok
         |FROM $fact f LEFT JOIN $dim d ON f.$fk = d.$pk""".stripMargin
    Seq(
      edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
      edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
  }

  val registry: Seq[Query] = Seq(
    Query("ri1_referential_integrity", ri1, ri1Sql),
    Query("snb1_sorted_neighborhood", snb1, snb1Sql),
    Query("dl1_damerau_linkage", dl1, dl1Sql),
    Query("skew1_key_skew_audit", skew1, skew1Sql),
    Query("sky1_pareto_front", sky1, sky1Sql),
    Query("ka1_k_anonymity", ka1, ka1Sql),
    Query("w12_range_frame", w12, w12Sql),
    Query("w11_rank_family", w11, w11Sql),
    Query("pf1_column_profile", pf1, pf1Sql),
    Query("pf2_numeric_profile", pf2, pf2Sql),
    Query("dq1_quality_audit", dq1, dq1Sql),
    Query("fz1_fuzzy_match", fz1, fz1Sql),
    Query("tk1_topk_per_group", tk1, tk1Sql),
    Query("sj1_salted_join", sj1, sj1Sql),
    Query("g2_pivot", g2, g2Sql),
    Query("w5_rolling_avg", w5, w5Sql),
    Query("g1_rollup", g1, g1Sql),
    Query("g4_cube", g4, g4Sql),
    Query("a2_global_tspan", a2, a2Sql),
    Query("q8_market_share", q8, q8Sql),
    Query("rj1_range_join_count", rj1, rj1Sql),
    Query("rj2_band_join_native", rj2, rj2Sql),
    Query("ams1_f2_sketch", ams1, ams1Sql),
    Query("oi2_interval_native", oi2, oi2Sql),
    Query("w8_lead_lag", w8, w8Sql),
    Query("g3_grouping_sets", g3, g3Sql),
  )
}
