package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.{Oracle, Query, Tables}

/** SURVEY §2 chain-analytics / window / set-op operators instantiated over
  * the driver's `events`/`documents` tables so each has a DuckDB oracle.
  * The `events` chain mapping: step = event_id, par = event_type,
  * value = value — same shapes as the reference's posterior chains.
  *
  * Exactness rules (see graft.core.Oracle): sums go through DECIMAL(12,2)
  * casts; weighted means use integer weights L/sig² with L = 420² so both
  * engines sum exact integers/decimals and divide once in double at the end.
  */
object AnalyticsQueries extends graft.core.QueryModule {

  private val L = 176400L // 420²; divisible by sig² for sig in 1..7

  // A4/A5 share ONE definition of the model-index bucket — the named
  // reference semantic Chain.modelCounts — so the a4 histogram and a5's
  // Bayes-factor inputs cannot drift apart (they were three hand-rolled
  // copies of groupBy(round(value/100)).count).
  private def eventModelCounts(s: SparkSession, dir: String): DataFrame =
    Chain.modelCounts(Tables.events(s, dir), col("value") / 100)

  // A4: model-index counts.
  def a4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventModelCounts(s, dir).orderBy($"nmodel")
  }
  val a4Sql: String =
    """SELECT CAST(round(value / 100) AS BIGINT) AS nmodel, COUNT(*) AS cnt
      |FROM events GROUP BY 1 ORDER BY nmodel""".stripMargin

  // A5: pairwise log Bayes factors over the A4 counts (self-join i<j).
  def a5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Chain.logBayesFactors(eventModelCounts(s, dir))
      .withColumn("log_bf", round($"log_bf", 6))
      .orderBy($"model_i", $"model_j")
  }
  val a5Sql: String =
    """WITH c AS (
      |  SELECT CAST(round(value / 100) AS BIGINT) AS nmodel, COUNT(*) AS cnt
      |  FROM events GROUP BY 1)
      |SELECT a.nmodel AS model_i, b.nmodel AS model_j,
      |  round(ln(CAST(b.cnt AS DOUBLE) / CAST(a.cnt AS DOUBLE)), 6) AS log_bf
      |FROM c a JOIN c b ON a.nmodel < b.nmodel
      |ORDER BY model_i, model_j""".stripMargin

  // A6+A7+A8: per-par histogram mode, percentiles, and arbitration
  // (mode if within [p16, p84] else median) — results.py:154-213.
  def a8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val mode = Chain.histogramMode(ev, $"event_type", $"value", 50)
    val pct = ev.groupBy($"event_type".as("g2")).agg(
      percentile($"value", lit(0.16)).as("p16"),
      percentile($"value", lit(0.50)).as("p50"),
      percentile($"value", lit(0.84)).as("p84"))
    mode.join(pct, $"g" === $"g2")
      .select($"g".as("event_type"), round($"mode", 9).as("mode"),
        round($"p16", 9).as("p16"), round($"p50", 9).as("p50"),
        round($"p84", 9).as("p84"),
        round(when($"mode".between($"p16", $"p84"), $"mode").otherwise($"p50"), 9)
          .as("estimate"))
      .orderBy($"event_type")
  }
  val a8Sql: String =
    """WITH st AS (
      |  SELECT event_type AS g,
      |    CASE WHEN min(value) = max(value) THEN min(value) - 0.5 ELSE min(value) END AS mn,
      |    CASE WHEN min(value) = max(value) THEN max(value) + 0.5 ELSE max(value) END AS mx
      |  FROM events GROUP BY 1),
      |bins AS (
      |  SELECT e.event_type AS g,
      |    LEAST(CAST(FLOOR((e.value - st.mn) * 50 / (st.mx - st.mn)) AS BIGINT), 49) AS bin,
      |    st.mn, st.mx
      |  FROM events e JOIN st ON e.event_type = st.g),
      |hist AS (
      |  SELECT g, bin, mn, mx, COUNT(*) AS bin_cnt FROM bins GROUP BY 1,2,3,4),
      |md AS (
      |  SELECT g, mn + (CAST(bin AS DOUBLE) * (mx - mn)) / 50 AS mode
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY g ORDER BY bin_cnt DESC, bin) AS rk
      |        FROM hist) q WHERE rk = 1),
      |pct AS (
      |  SELECT event_type AS g, quantile_cont(value, 0.16) AS p16,
      |    quantile_cont(value, 0.50) AS p50, quantile_cont(value, 0.84) AS p84
      |  FROM events GROUP BY 1)
      |SELECT md.g AS event_type, round(mode, 9) AS mode, round(p16, 9) AS p16,
      |  round(p50, 9) AS p50, round(p84, 9) AS p84,
      |  round(CASE WHEN mode BETWEEN p16 AND p84 THEN mode ELSE p50 END, 9) AS estimate
      |FROM md JOIN pct ON md.g = pct.g ORDER BY event_type""".stripMargin

  // W4+F9: burn-in (drop first 25% by step order) + thinning (every 10th of
  // the remainder) — numpy chain[burn::10].
  def w4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Chain.burnThin(Tables.events(s, dir).select($"event_id", $"value"),
        0.25, 10, $"event_id")
      .orderBy($"event_id")
  }
  val w4Sql: String =
    """WITH r AS (
      |  SELECT event_id, value, ROW_NUMBER() OVER (ORDER BY event_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM events)
      |SELECT event_id, value FROM r
      |WHERE rn > CAST(FLOOR(0.25 * n) AS BIGINT)
      |  AND (rn - CAST(FLOOR(0.25 * n) AS BIGINT)) % 10 = 1
      |ORDER BY event_id""".stripMargin

  // W3/K4: earliest-fraction split — first 10% of rows vs rest, per type.
  def w3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.GlobalRank.withRowNumber(Tables.events(s, dir), Seq($"event_id"))
      .withColumn("early",
        when($"rn" <= floor(lit(0.1) * $"n").cast("long"), 1L).otherwise(0L))
      .groupBy($"event_type")
      .agg(sum($"early").as("early_cnt"), count(lit(1)).as("total_cnt"))
      .orderBy($"event_type")
  }
  val w3Sql: String =
    """WITH r AS (
      |  SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM events)
      |SELECT event_type,
      |  CAST(SUM(CASE WHEN rn <= CAST(FLOOR(0.1 * n) AS BIGINT) THEN 1 ELSE 0 END) AS BIGINT) AS early_cnt,
      |  COUNT(*) AS total_cnt
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  // A10: per-group rms/mean error stats (libstempo_warp.py:92-98) — exact
  // decimal squares so the sums match bit-for-bit.
  def a10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v2 = (Oracle.money($"value") * Oracle.money($"value")).cast(DecimalType(24, 4))
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(
        sqrt(sum(v2).cast("double") / count(lit(1))).as("rms"),
        (sum(Oracle.money($"value")).cast("double") / count(lit(1))).as("mean_err"),
        count(lit(1)).as("n"))
      .orderBy($"event_type")
  }
  val a10Sql: String =
    """SELECT event_type,
      |  sqrt(CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(24,4))) AS DOUBLE) / COUNT(*)) AS rms,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS mean_err,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // A11: inverse-variance weighted mean (results.py:276-284), exact form:
  // sig = event_id%7+1, weight = L/sig² (integer), mean = Σ(ρw)/Σw,
  // err = sqrt(L/Σw).
  def a11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("w", expr(s"$L div ((event_id % 7 + 1) * (event_id % 7 + 1))"))
      .groupBy($"event_type")
      .agg(
        (sum(Oracle.money($"value") * $"w").cast("double") / sum($"w").cast("double")).as("rho_wavg"),
        sqrt(lit(L.toDouble) / sum($"w").cast("double")).as("sig_wavg"))
      .orderBy($"event_type")
  }
  val a11Sql: String =
    s"""SELECT event_type,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2)) * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS rho_wavg,
       |  sqrt(CAST($L AS DOUBLE) / CAST(SUM(w) AS DOUBLE)) AS sig_wavg
       |FROM (SELECT event_type, value,
       |        $L // ((event_id % 7 + 1) * (event_id % 7 + 1)) AS w
       |      FROM events)
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // A12/W6: equal-count bins — ntile(8) ordered by value, per-tile stats.
  def a12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.GlobalRank.withRowNumber(
        Tables.events(s, dir), Seq($"value", $"event_id"))
      .withColumn("tile",
        graft.operators.GlobalRank.ntileFromRank($"rn", $"n", 8))
      .groupBy($"tile")
      .agg(
        (sum(Oracle.money($"value")).cast("double") / count(lit(1))).as("mean_xi"),
        min($"value").as("min_xi"), max($"value").as("max_xi"),
        count(lit(1)).as("npairs"))
      .orderBy($"tile")
  }
  val a12Sql: String =
    """SELECT tile,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS mean_xi,
      |  min(value) AS min_xi, max(value) AS max_xi, COUNT(*) AS npairs
      |FROM (SELECT value, NTILE(8) OVER (ORDER BY value, event_id) AS tile FROM events)
      |GROUP BY tile ORDER BY tile""".stripMargin

  // A13: fixed-width bins (intended bin_crosscorr semantics) with the exact
  // weighted mean of A11 per bucket.
  def a13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("w", expr(s"$L div ((event_id % 7 + 1) * (event_id % 7 + 1))"))
      .withColumn("bin", floor($"value" / 50).cast("long"))
      .groupBy($"bin")
      .agg(
        (sum(Oracle.money($"value") * $"w").cast("double") / sum($"w").cast("double")).as("rho_wavg"),
        sqrt(lit(L.toDouble) / sum($"w").cast("double")).as("sig_wavg"),
        count(lit(1)).as("npairs"))
      .orderBy($"bin")
  }
  val a13Sql: String =
    s"""SELECT CAST(FLOOR(value / 50) AS BIGINT) AS bin,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2)) * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS rho_wavg,
       |  sqrt(CAST($L AS DOUBLE) / CAST(SUM(w) AS DOUBLE)) AS sig_wavg,
       |  COUNT(*) AS npairs
       |FROM (SELECT event_id, value,
       |        $L // ((event_id % 7 + 1) * (event_id % 7 + 1)) AS w
       |      FROM events)
       |GROUP BY 1 ORDER BY bin""".stripMargin

  // A15: noise-marginalised statistic — 100 deterministic posterior draws
  // (event_id % 100), per-draw weighted mean, averaged over draws
  // (results.py:819-844 with seeded draw indices).
  def a15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perDraw = Tables.events(s, dir)
      .withColumn("w", expr(s"$L div ((event_id % 7 + 1) * (event_id % 7 + 1))"))
      .withColumn("draw", $"event_id" % 100)
      .groupBy($"draw")
      .agg((sum(Oracle.money($"value") * $"w").cast("double") / sum($"w").cast("double"))
        .as("os_draw"))
    perDraw.agg(
      (sum($"os_draw".cast(DecimalType(18, 8))).cast("double") / count(lit(1)))
        .as("os_marg"),
      count(lit(1)).as("n_draws"))
  }
  val a15Sql: String =
    s"""WITH d AS (
       |  SELECT event_id % 100 AS draw,
       |    CAST(SUM(CAST(value AS DECIMAL(12,2)) * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS os_draw
       |  FROM (SELECT event_id, value,
       |          $L // ((event_id % 7 + 1) * (event_id % 7 + 1)) AS w
       |        FROM events)
       |  GROUP BY 1)
       |SELECT CAST(SUM(CAST(os_draw AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS os_marg,
       |  COUNT(*) AS n_draws
       |FROM d""".stripMargin

  // J8+X5: pulsar-pair self-join with Hellings–Downs ORF. "Pulsars" = the 25
  // nations at angles θ_k = k·π/25; ζ_ab = θ_a − θ_b, x = (1−cos ζ)/2,
  // hd = 1.5x·ln x − 0.25x + 0.5 (results.py:138-144).
  def j8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.nation(s, dir)
    val a = n.select($"n_nationkey".as("pa"))
    val b = n.select($"n_nationkey".as("pb"))
    val pi = lit(math.Pi)
    a.join(b, $"pa" < $"pb")
      .withColumn("cosz", cos(($"pa" - $"pb").cast("double") * pi / 25))
      .withColumn("x", (lit(1.0) - $"cosz") / 2)
      .select($"pa", $"pb",
        round(lit(1.5) * $"x" * log($"x") - lit(0.25) * $"x" + lit(0.5), 9).as("hd"))
      .orderBy($"pa", $"pb")
  }
  val j8Sql: String =
    """SELECT pa, pb, round(1.5 * x * ln(x) - 0.25 * x + 0.5, 9) AS hd
      |FROM (SELECT a.n_nationkey AS pa, b.n_nationkey AS pb,
      |        (1.0 - cos(CAST(a.n_nationkey - b.n_nationkey AS DOUBLE) * pi() / 25)) / 2 AS x
      |      FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey) t
      |ORDER BY pa, pb""".stripMargin

  // J5/A9: wide→long unpivot of chain columns + per-par aggregation — the
  // posexplode pivot that replaces the reference's per-column Python loop.
  def j5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .selectExpr("stack(3, 'l_quantity', l_quantity, 'l_discount', l_discount, 'l_tax', l_tax) as (par, value)")
      .groupBy($"par")
      // exact integer-cents sum (pf2's discipline): bit-equal to the
      // DECIMAL(12,2) aggregation at a fraction of the per-row cost
      .agg((sum(round($"value" * 100).cast("long")).cast("double") / 100.0 /
          count(lit(1))).as("mean_value"),
        count(lit(1)).as("n"))
      .orderBy($"par")
  }
  val j5Sql: String =
    """SELECT par,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS mean_value,
      |  COUNT(*) AS n
      |FROM (
      |  SELECT 'l_quantity' AS par, l_quantity AS value FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
      |GROUP BY par ORDER BY par""".stripMargin

  // A14/E3: distinct backends per group (collect-set cardinality).
  def a14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }
  val a14Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // E1: set intersection — users active in week 1 AND week 4.
  def e1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val w1 = ev.filter($"ts" < expr("TIMESTAMP '2024-01-08 00:00:00'"))
      .select($"user_id").distinct()
    val w4 = ev.filter($"ts" >= expr("TIMESTAMP '2024-01-22 00:00:00'"))
      .select($"user_id").distinct()
    w1.intersect(w4).orderBy($"user_id")
  }
  val e1Sql: String =
    """SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
      |INTERSECT
      |SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
      |ORDER BY user_id""".stripMargin

  // E5: set difference — (type, user) pairs active on day 1 but not day 2.
  def e5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val d1 = ev.filter($"ts" < expr("TIMESTAMP '2024-01-02 00:00:00'"))
      .select($"event_type", $"user_id").distinct()
    val rest = ev.filter($"ts" >= expr("TIMESTAMP '2024-01-02 00:00:00'") &&
        $"ts" < expr("TIMESTAMP '2024-01-03 00:00:00'"))
      .select($"event_type", $"user_id").distinct()
    d1.except(rest).orderBy($"event_type", $"user_id")
  }
  val e5Sql: String =
    """SELECT DISTINCT event_type, user_id FROM events
      |WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
      |EXCEPT
      |SELECT DISTINCT event_type, user_id FROM events
      |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-03 00:00:00'
      |ORDER BY event_type, user_id""".stripMargin

  // REG1: per-group OLS linear trend — slope/intercept/R² of value vs
  // event time per event_type, the "is this metric drifting" diagnostic.
  // One pass: five exact long sums (n, Σx, Σy, Σxy, Σx², Σy²) per group —
  // x = whole seconds since 2024-01-01 (integer floor-div of epoch µs,
  // shifted to keep Σx² in long range; at open-ended time spans shift by a
  // per-group first pass instead), y = exact cents. The closed-form OLS
  // ratios are then ONE identically-ordered double formula per output
  // row, so results hash-match the oracle bit for bit. groupBy with
  // map-side combine; 5 groups at any scale.
  def reg1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x = expr("unix_micros(ts) div 1000000") - lit(1704067200L)
    val y = round($"value" * 100, 0).cast("long")
    val g = Tables.events(s, dir)
      .select($"event_type", x.as("x"), y.as("y"))
      .groupBy($"event_type")
      // second-moment sums in DECIMAL(38,0): x is seconds since epoch-ish
      // (~6e8 after ScaleData's replica period shifts), so Σx² overflows
      // BIGINT already at sf1 — ANSI mode correctly threw ARITHMETIC_OVERFLOW
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum(($"x".cast(DecimalType(38, 0)) * $"y").cast(DecimalType(38, 0))).as("sxy"),
        sum(($"x".cast(DecimalType(38, 0)) * $"x").cast(DecimalType(38, 0))).as("sxx"),
        sum(($"y".cast(DecimalType(38, 0)) * $"y").cast(DecimalType(38, 0))).as("syy"))
    val nD = $"n".cast("double"); val sxD = $"sx".cast("double")
    val syD = $"sy".cast("double"); val sxyD = $"sxy".cast("double")
    val sxxD = $"sxx".cast("double"); val syyD = $"syy".cast("double")
    val num = nD * sxyD - sxD * syD
    val den = nD * sxxD - sxD * sxD
    g.select($"event_type", $"n",
        round(num / den * lit(86400.0) / lit(100.0), 6).as("slope_per_day"),
        round((syD - num / den * sxD) / nD / lit(100.0), 6).as("intercept"),
        round(num * num / (den * (nD * syyD - syD * syD)), 6).as("r2"))
      .orderBy($"event_type")
  }
  val reg1Sql: String =
    """WITH p AS (
      |  SELECT event_type,
      |    epoch_us(ts) // 1000000 - 1704067200 AS x,
      |    CAST(ROUND(value * 100, 0) AS BIGINT) AS y
      |  FROM events),
      |g AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
      |    CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
      |  FROM p GROUP BY 1)
      |SELECT event_type, n,
      |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    * 86400.0 / 100.0, 6) AS slope_per_day,
      |  ROUND((CAST(sy AS DOUBLE)
      |    - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE) / 100.0, 6) AS intercept,
      |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
      |FROM g ORDER BY event_type""".stripMargin

  // MK1: first-order Markov transition matrix of event types — P(next |
  // current) from each user's time-ordered event sequence (the behavioral
  // fingerprint behind session simulation and anomaly scoring). The lead
  // window sorts WITHIN user partitions only (bounded per-user state, no
  // global sort); the transition counts collapse to |types|² rows, and the
  // row-normalizing totals join is |types|-sized → broadcast. Tie-break on
  // event_id makes same-timestamp ordering deterministic on both engines.
  def mk1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    // row-normalize with a window over the ALREADY-AGGREGATED |types|²-row
    // counts table (bounded by type cardinality, not corpus size) — a
    // groupBy+join-back would make Catalyst recompute the big per-user
    // lead window on both join branches (no cross-branch CSE)
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("dst", lead($"event_type", 1).over(w))
      .filter($"dst".isNotNull)
      .groupBy($"event_type".as("src"), $"dst")
      .agg(count(lit(1)).as("c"))
      .withColumn("tot", sum($"c").over(Window.partitionBy($"src")))
      .select($"src", $"dst", $"c",
        round($"c".cast("double") / $"tot".cast("double"), 6).as("p"))
      .orderBy($"src", $"dst")
  }
  val mk1Sql: String =
    """WITH tr AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS dst
      |  FROM events),
      |c AS (SELECT src, dst, COUNT(*) AS c FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT src, CAST(SUM(c) AS BIGINT) AS tot FROM c GROUP BY 1)
      |SELECT c.src, c.dst, c.c,
      |  ROUND(CAST(c.c AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
      |FROM c JOIN t ON c.src = t.src ORDER BY c.src, c.dst""".stripMargin

  // AC1: lag-1 autocorrelation of the daily event series per type — the
  // persistence diagnostic behind fc1's naive backtest (naive forecasting
  // is only defensible when r₁ is high; this measures it). The lead()
  // window runs over the ALREADY-AGGREGATED (type, day) table — bounded by
  // types×days, never the fact table (mk1's rule) — and the correlation
  // moments are exact integers in DECIMAL(38,0); Pearson r is one double
  // expression mirrored verbatim in the oracle.
  def ac1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val pairs = daily.withColumn("nxt", lead($"c", 1).over(w))
      .filter($"nxt".isNotNull)
    val d38 = DecimalType(38, 0)
    pairs.groupBy($"event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"c".cast(d38)).as("sx"), sum($"nxt".cast(d38)).as("sy"),
        sum(($"c".cast(d38) * $"nxt").cast(d38)).as("sxy"),
        sum(($"c".cast(d38) * $"c").cast(d38)).as("sxx"),
        sum(($"nxt".cast(d38) * $"nxt").cast(d38)).as("syy"))
      .select($"event_type", $"n_pairs",
        round(($"n_pairs".cast("double") * $"sxy".cast("double") -
            $"sx".cast("double") * $"sy".cast("double")) /
          sqrt(($"n_pairs".cast("double") * $"sxx".cast("double") -
              $"sx".cast("double") * $"sx".cast("double")) *
            ($"n_pairs".cast("double") * $"syy".cast("double") -
              $"sy".cast("double") * $"sy".cast("double"))), 9).as("r1"))
      .orderBy($"event_type")
  }
  val ac1Sql: String =
    """WITH daily AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, c,
      |    lead(c) OVER (PARTITION BY event_type ORDER BY day) AS nxt
      |  FROM daily),
      |m AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
      |    CAST(SUM(CAST(nxt AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
      |    CAST(SUM(CAST(c AS DECIMAL(38,0)) * nxt) AS DECIMAL(38,0)) AS sxy,
      |    CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS sxx,
      |    CAST(SUM(CAST(nxt AS DECIMAL(38,0)) * nxt) AS DECIMAL(38,0)) AS syy
      |  FROM p WHERE nxt IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_pairs,
      |  round((CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |    sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |      (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE) -
      |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) AS r1
      |FROM m ORDER BY event_type""".stripMargin

  // HLL2: sketch ROLL-UP — the mergeability property that makes sketches
  // the 100 TB answer: per-DAY HLL registers are precomputed once, and any
  // date range is answered by a register-wise max over the daily sketches
  // — no rescan of the raw events, state 64 bytes per day. The query
  // PROVES the property in-band: `merge_equals_direct` compares the
  // harmonic sum of the day-merged registers against a sketch computed
  // directly on the full range (bit-equal by construction — max is
  // associative), alongside the estimate vs the exact distinct. Hash
  // chain identical to hll1's avalanche (see there for why a lone LCG
  // biases the leading-zero statistic).

  // EWMA1: exponentially-weighted moving average of the per-type daily
  // count series (alpha = 0.3) — the streaming-friendly trend smoother
  // (each day's state is ONE double; contrast fc1's naive carry-forward
  // and ac1's lag-1 autocorrelation, which justify it). Cross-engine
  // determinism: the recurrence e_n = a*x_n + (1-a)*e_{n-1} is a LEFT
  // FOLD over the day-sorted series, spelled with the same literal
  // arithmetic on both engines (0.3 * x + 0.7 * acc), so every
  // intermediate IEEE double is identical — same discipline as the dot
  // products and t8's log-prob fold. Scale posture: the fold's input is
  // the AGGREGATED types x days table (bounded by the calendar, not the
  // corpus); the only corpus-sized work is the one groupBy shuffle.
  def ewma1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"))
    daily.groupBy($"event_type")
      .agg(sort_array(collect_list(struct($"day", $"cnt"))).as("ser"))
      .select($"event_type",
        size($"ser").cast("long").as("n_days"),
        element_at($"ser", -1).getField("cnt").as("last_cnt"),
        round(expr(
          """aggregate(slice(ser, 2, size(ser) - 1),
            |          CAST(ser[0].cnt AS DOUBLE),
            |          (acc, x) -> 0.3 * CAST(x.cnt AS DOUBLE) + 0.7 * acc)""".stripMargin),
          6).as("ewma"),
        round(element_at($"ser", -1).getField("cnt").cast("double") / expr(
          """aggregate(slice(ser, 2, greatest(size(ser) - 2, 0)),
            |          CAST(ser[0].cnt AS DOUBLE),
            |          (acc, x) -> 0.3 * CAST(x.cnt AS DOUBLE) + 0.7 * acc)""".stripMargin),
          6).as("last_vs_trend"))
      .orderBy($"event_type")
  }
  val ewma1Sql: String =
    """WITH daily AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |ser AS (
      |  SELECT event_type,
      |    list_sort(list(struct_pack(day := day, cnt := cnt))) AS lst
      |  FROM daily GROUP BY 1),
      |x AS (
      |  SELECT event_type, lst,
      |    list_transform(lst, e -> CAST(e.cnt AS DOUBLE)) AS xs
      |  FROM ser)
      |SELECT event_type,
      |  CAST(len(lst) AS BIGINT) AS n_days,
      |  lst[len(lst)].cnt AS last_cnt,
      |  round(list_reduce(xs, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma,
      |  -- DuckDB's list_reduce raises on an empty list, so the single-day
      |  -- case (xs[1:0] = []) is guarded to the init value, mirroring
      |  -- Spark's aggregate-over-empty-slice (= ser[0].cnt) behavior.
      |  round(CAST(lst[len(lst)].cnt AS DOUBLE)
      |    / (CASE WHEN len(xs) <= 1 THEN xs[1]
      |            ELSE list_reduce(xs[1:len(xs)-1], (acc, x) -> 0.3 * x + 0.7 * acc) END), 6)
      |    AS last_vs_trend
      |FROM x ORDER BY event_type""".stripMargin

  /** The hll avalanche hash chain + rho ladder SHARED by hll1/hll2 — adds
    * (reg, rho) to any frame carrying user_id (other columns ride along).
    * xor-shift-multiply avalanche (xxhash32 shape): a single LCG's
    * arithmetic-progression lattice biases the leading-zero statistic HLL
    * reads (measured +86% on sequential ids). Only the FIRST multiply can
    * exceed bigint (id * 2654435761); it routes through DECIMAL(38,0) for
    * the exact mod-2^32 residue (the knuthHash discipline) — every later
    * step runs on < 2^32 state. One definition so the two sketches (and
    * their literal SQL mirrors) cannot drift. */
  private def hllRegRho(df: DataFrame): DataFrame = {
    val hashed = df
      .withColumn("h0", ((col("user_id").cast("decimal(38,0)") * lit(2654435761L)
        + lit(12345L)) % lit(4294967296L)).cast("long"))
      .withColumn("h1", expr("h0 ^ shiftright(h0, 16)"))
      .withColumn("h2", (col("h1") * lit(49632381L)) % lit(4294967296L))
      .withColumn("h3", expr("h2 ^ shiftright(h2, 13)"))
      .withColumn("h4", (col("h3") * lit(179424673L)) % lit(4294967296L))
      .withColumn("h", expr("(h4 ^ shiftright(h4, 16)) % 16777216"))
      .withColumn("reg", col("h") % 64)
      .withColumn("w", expr("h div 64"))
    var rho: org.apache.spark.sql.Column = when(col("w") >= lit(1L << 17), 1)
    for (k <- 2 to 18) rho = rho.when(col("w") >= lit(1L << (18 - k)), k)
    hashed.withColumn("rho", rho.otherwise(19))
      .drop("h0", "h1", "h2", "h3", "h4", "h", "w")
  }

  def hll2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"user_id")
    val withRho = hllRegRho(ev)
    val daily = withRho.groupBy($"day", $"reg").agg(max($"rho").as("m"))
    val merged = daily.groupBy($"reg").agg(max($"m").as("m"))
    val direct = withRho.groupBy($"reg").agg(max($"rho").as("m"))
    def ssum(regs: DataFrame, out: String) = regs.agg(
        count(lit(1)).as("nreg"),
        sum(expr("shiftleft(cast(1 as bigint), 19 - m)")).as("s_ne"))
      .select((lit(64L) - $"nreg").as(s"ve_$out"),
        ($"s_ne" + (lit(64L) - $"nreg") * lit(524288L)).as(s"s_$out"))
    val nd = ev.agg(countDistinct($"day").as("n_days"),
      countDistinct($"user_id").as("n_exact"))
    graft.core.ScalarSub.withScalars(
        graft.core.ScalarSub.withScalars(ssum(merged, "merged"),
          ssum(direct, "direct")), nd)
      .withColumn("est_raw",
        lit(0.709) * lit(4096.0) * lit(524288.0) / $"s_merged")
      .withColumn("used_linear", $"est_raw" <= 160.0 && $"ve_merged" > 0)
      .withColumn("est0", when($"used_linear",
        lit(64.0) * log(lit(64.0) / $"ve_merged")).otherwise($"est_raw"))
      .select($"n_days", $"n_exact", $"ve_merged".as("v_empty"),
        $"s_merged".as("s_sum_merged"), $"s_direct".as("s_sum_direct"),
        ($"s_merged" === $"s_direct").as("merge_equals_direct"),
        round($"est0", 6).as("est"),
        (abs($"est0" - $"n_exact") / $"n_exact" <= 0.3).as("within_tolerance"))
  }
  val hll2Sql: String = {
    val ladder = (1 to 18)
      .map(k => s"WHEN w >= ${1L << (18 - k)} THEN $k").mkString(" ")
    s"""WITH ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
       |e0 AS (SELECT day, user_id,
       |         (user_id * 2654435761 + 12345) % 4294967296 AS h0 FROM ev),
       |e1 AS (SELECT day, user_id, xor(h0, h0 >> 16) AS h1 FROM e0),
       |e2 AS (SELECT day, user_id, (h1 * 49632381) % 4294967296 AS h2 FROM e1),
       |e3 AS (SELECT day, user_id, xor(h2, h2 >> 13) AS h3 FROM e2),
       |e4 AS (SELECT day, user_id, (h3 * 179424673) % 4294967296 AS h4 FROM e3),
       |eh AS (SELECT day, user_id, xor(h4, h4 >> 16) % 16777216 AS h FROM e4),
       |er AS (SELECT day, h % 64 AS reg, h // 64 AS w FROM eh),
       |rr AS (SELECT day, reg, CASE $ladder ELSE 19 END AS rho FROM er),
       |daily AS (SELECT day, reg, MAX(rho) AS m FROM rr GROUP BY 1, 2),
       |merged AS (SELECT reg, MAX(m) AS m FROM daily GROUP BY 1),
       |direct AS (SELECT reg, MAX(rho) AS m FROM rr GROUP BY 1),
       |sm AS (SELECT CAST(64 - COUNT(*) AS BIGINT) AS ve_merged,
       |         CAST(SUM(1::BIGINT << (19 - m)) + (64 - COUNT(*)) * 524288 AS BIGINT) AS s_merged
       |       FROM merged),
       |sd AS (SELECT CAST(SUM(1::BIGINT << (19 - m)) + (64 - COUNT(*)) * 524288 AS BIGINT) AS s_direct
       |       FROM direct),
       |nd AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
       |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM ev),
       |j AS (SELECT *, 0.709 * 4096.0 * 524288.0 / s_merged AS est_raw,
       |        (0.709 * 4096.0 * 524288.0 / s_merged <= 160.0 AND ve_merged > 0) AS used_linear
       |      FROM sm, sd, nd)
       |SELECT n_days, n_exact, ve_merged AS v_empty,
       |  s_merged AS s_sum_merged, s_direct AS s_sum_direct,
       |  (s_merged = s_direct) AS merge_equals_direct,
       |  round(CASE WHEN used_linear THEN 64.0 * ln(64.0 / ve_merged)
       |        ELSE est_raw END, 6) AS est,
       |  (abs(CASE WHEN used_linear THEN 64.0 * ln(64.0 / ve_merged)
       |        ELSE est_raw END - n_exact) / n_exact <= 0.3) AS within_tolerance
       |FROM j""".stripMargin
  }

  // SAX1: symbolic aggregate approximation (Lin et al., DMKD 2007) — the
  // time-series indexing primitive: each type's daily-count series is
  // piecewise-aggregate-approximated into 8 equal segments and each
  // segment mean discretized against the GLOBAL quartiles into a 4-letter
  // alphabet, so similar shapes share symbols and a 100 TB series store
  // can be equijoined on SAX words instead of scanned. All windows run
  // over the aggregated types×days table (mk1's rule); breakpoints are a
  // 3-value broadcast; both paa and breakpoints are rounded to 6 decimals
  // BEFORE the comparison so the letter boundaries are engine-exact.
  def sax1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val nW = Window.partitionBy($"event_type")
    val seg = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("nd", count(lit(1)).over(nW))
      .withColumn("seg", expr("((rn - 1) * 8) div nd"))
      .groupBy($"event_type", $"seg")
      .agg(round(sum($"c").cast("double") / count(lit(1)).cast("double"), 6)
        .as("paa"))
    val br = seg.agg(
      round(percentile($"paa", lit(0.25)), 6).as("b1"),
      round(percentile($"paa", lit(0.5)), 6).as("b2"),
      round(percentile($"paa", lit(0.75)), 6).as("b3"))
    graft.core.ScalarSub.withScalars(seg, br)
      .select($"event_type", $"seg", $"paa",
        when($"paa" <= $"b1", "a").when($"paa" <= $"b2", "b")
          .when($"paa" <= $"b3", "c").otherwise("d").as("symbol"))
      .orderBy($"event_type", $"seg")
  }
  val sax1Sql: String =
    """WITH daily AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, c,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nd
      |  FROM daily),
      |seg AS (
      |  SELECT event_type, ((rn - 1) * 8) // nd AS seg,
      |    round(CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS paa
      |  FROM r GROUP BY 1, 2),
      |br AS (
      |  SELECT round(quantile_cont(paa, 0.25), 6) AS b1,
      |    round(quantile_cont(paa, 0.5), 6) AS b2,
      |    round(quantile_cont(paa, 0.75), 6) AS b3
      |  FROM seg)
      |SELECT event_type, CAST(seg AS BIGINT) AS seg, paa,
      |  CASE WHEN paa <= b1 THEN 'a' WHEN paa <= b2 THEN 'b'
      |       WHEN paa <= b3 THEN 'c' ELSE 'd' END AS symbol
      |FROM seg, br ORDER BY event_type, seg""".stripMargin

  // DP1: thresholded noisy histogram release — the standard privacy
  // release mechanism shape (k-suppression + additive cell noise) over the
  // (event_type, day) histogram: cells under 25 contributors are DROPPED,
  // surviving counts are perturbed by a deterministic md5-derived integer
  // in [-3, 3] (a stand-in for the Laplace draw — the pipeline shape is
  // the point; a real deployment swaps the noise source). One hash
  // aggregate over the fact table; noise derives from the CELL KEY so the
  // release is reproducible and cross-engine exact. Complements ka1's
  // k-anonymity audit with the release step itself.
  def dp1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("c"))
      .filter($"c" >= 25L)
      .withColumn("noise",
        (conv(substring(md5(concat($"event_type", lit("|"), $"day")), 1, 14),
          16, 10).cast("long") % 7L) - 3L)
      .select($"event_type", $"day", ($"c" + $"noise").as("released"))
      .orderBy($"event_type", $"day")
  }
  val dp1Sql: String =
    """WITH h AS (
      |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day,
      |  c + (CAST(concat('0x', substring(md5(event_type || '|' || day), 1, 14))
      |         AS BIGINT) % 7 - 3) AS released
      |FROM h WHERE c >= 25 ORDER BY event_type, day""".stripMargin

  // CUPED1: variance-reduced experiment readout (Deng et al., WSDM 2013) —
  // the industry-standard upgrade to ab1's raw z-test: regress the
  // experiment-period metric on the pre-period covariate and compare
  // ADJUSTED means. The time split is the integer midpoint of the global
  // ts_ns range (1-row broadcast); per-user pre/post sums are exact
  // integer cents, so the pooled moments (Σpre, Σpost, Σpre², Σpre·post —
  // DECIMAL(38,0) against corpus-scale overflow) are bit-exact on both
  // engines and θ = cov/var is the first double. One user-keyed aggregate
  // + a 2-row variant rollup; nothing wider than a user shuffles.
  def cuped1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .filter($"value".isNotNull && $"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("ts_us"),
        (Oracle.money($"value") * 100).cast("long").as("cents"))
    val mid = ev.agg(min($"ts_us").as("mn"), max($"ts_us").as("mx"))
      .select(($"mn" + expr("(mx - mn) div 2")).as("mid")) // integer midpoint
    val perUser = graft.core.ScalarSub.withScalars(ev, mid)
      .groupBy($"user_id")
      .agg(sum(when($"ts_us" < $"mid", $"cents").otherwise(0L)).as("pre"),
        sum(when($"ts_us" >= $"mid", $"cents").otherwise(0L)).as("post"))
      .withColumn("variant", $"user_id" % 2)
    val d38 = DecimalType(38, 0)
    val mom = perUser.agg(
      count(lit(1)).as("n"),
      sum($"pre".cast(d38)).as("sp"), sum($"post".cast(d38)).as("so"),
      sum(($"pre".cast(d38) * $"pre").cast(d38)).as("spp"),
      sum(($"pre".cast(d38) * $"post").cast(d38)).as("spo"))
    graft.core.ScalarSub.withScalars(
        perUser.groupBy($"variant")
          .agg(count(lit(1)).as("n_users"),
            sum($"pre".cast(d38)).as("vp"), sum($"post".cast(d38)).as("vo")),
        mom)
      .withColumn("theta",
        (($"n".cast("double") * $"spo".cast("double") -
          $"sp".cast("double") * $"so".cast("double")) /
         ($"n".cast("double") * $"spp".cast("double") -
          $"sp".cast("double") * $"sp".cast("double"))))
      .withColumn("mean_pre", $"vp".cast("double") / $"n_users".cast("double"))
      .withColumn("mean_post", $"vo".cast("double") / $"n_users".cast("double"))
      .withColumn("grand_pre", $"sp".cast("double") / $"n".cast("double"))
      .select($"variant", $"n_users",
        round($"mean_post", 9).as("mean_post"),
        round($"mean_post" - $"theta" * ($"mean_pre" - $"grand_pre"), 9)
          .as("mean_adjusted"),
        round($"theta", 9).as("theta"))
      .orderBy($"variant")
  }
  val cuped1Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL AND event_type = 'purchase'),
      |m AS (SELECT MIN(ts_us) + (MAX(ts_us) - MIN(ts_us)) // 2 AS mid FROM e),
      |u AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN ts_us < mid THEN cents ELSE 0 END) AS BIGINT) AS pre,
      |    CAST(SUM(CASE WHEN ts_us >= mid THEN cents ELSE 0 END) AS BIGINT) AS post,
      |    user_id % 2 AS variant
      |  FROM e, m GROUP BY user_id),
      |mo AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(pre AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sp,
      |    CAST(SUM(CAST(post AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS so,
      |    CAST(SUM(CAST(pre AS DECIMAL(38,0)) * pre) AS DECIMAL(38,0)) AS spp,
      |    CAST(SUM(CAST(pre AS DECIMAL(38,0)) * post) AS DECIMAL(38,0)) AS spo
      |  FROM u),
      |v AS (
      |  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(CAST(pre AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS vp,
      |    CAST(SUM(CAST(post AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS vo
      |  FROM u GROUP BY 1)
      |SELECT variant, n_users,
      |  round(CAST(vo AS DOUBLE) / CAST(n_users AS DOUBLE), 9) AS mean_post,
      |  round(CAST(vo AS DOUBLE) / CAST(n_users AS DOUBLE) -
      |    ((CAST(n AS DOUBLE) * CAST(spo AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(so AS DOUBLE)) /
      |     (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) *
      |    (CAST(vp AS DOUBLE) / CAST(n_users AS DOUBLE) - CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)), 9)
      |    AS mean_adjusted,
      |  round((CAST(n AS DOUBLE) * CAST(spo AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(so AS DOUBLE)) /
      |        (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)), 9) AS theta
      |FROM v, mo ORDER BY variant""".stripMargin

  // MW1: Mann–Whitney U — the nonparametric two-sample test ab1's z-test
  // can't replace when the metric is skewed. The rank-sum is computed
  // WITHOUT ranking rows: group to distinct cent values (exact integer
  // cents via the DECIMAL route), one GlobalRank prefix sum of the B-side
  // counts, then 2·U_A = Σ_v nA(v)·(2·cumB_less(v) + nB(v)) — doubling
  // clears the tie half-ranks so the statistic is an exact INTEGER
  // (DECIMAL(38,0) against overflow at corpus scale) on both engines; the
  // z readout is the only double. Scale: one value-keyed aggregate (
  // cardinality = distinct prices, not rows) + one bounded range shuffle.
  def mw1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .filter($"value".isNotNull && $"event_type" === "purchase")
      .select((Oracle.money($"value") * 100).cast("long").as("cents"),
        ($"user_id" % 2).as("grp"))
    val byV = ev.groupBy($"cents").agg(
      sum(when($"grp" === 0, 1L).otherwise(0L)).as("na"),
      sum(when($"grp" === 1, 1L).otherwise(0L)).as("nb"))
    val cums = graft.operators.GlobalRank.withPrefixSum(
      byV, Seq($"cents"), $"nb", out = "cumb")
    cums.agg(
        sum($"na").cast("long").as("n_a"),
        sum($"nb").cast("long").as("n_b"),
        sum($"na".cast(DecimalType(38, 0)) *
          (lit(2L) * ($"cumb" - $"nb") + $"nb")).cast(DecimalType(38, 0))
          .as("u2_a"))
      // BIGINT readout: 2·U ≤ 2·n_a·n_b (~2e6 at sf0.1, ~2e8 at sf1) —
      // decades of long headroom, and BIGINT hash-matches across engines
      // where DECIMAL(38,0) reads back as float64 in DuckDB's client
      .select($"n_a", $"n_b", $"u2_a".cast("long").as("u2_a"),
        (lit(2L) * $"n_a".cast(DecimalType(38, 0)) * $"n_b" - $"u2_a")
          .cast("long").as("u2_b"),
        round(($"u2_a".cast("double") -
            $"n_a".cast("double") * $"n_b".cast("double")) /
          (lit(2.0) * sqrt($"n_a".cast("double") * $"n_b".cast("double") *
            ($"n_a".cast("double") + $"n_b".cast("double") + lit(1.0)) /
            lit(12.0))), 9).as("z"))
  }
  val mw1Sql: String =
    """WITH e AS (
      |  SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |    user_id % 2 AS grp
      |  FROM events WHERE value IS NOT NULL AND event_type = 'purchase'),
      |v AS (SELECT cents,
      |        CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |        CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      |      FROM e GROUP BY 1),
      |c AS (SELECT na, nb,
      |        CAST(SUM(nb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
      |      FROM v),
      |t AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b,
      |        CAST(SUM(CAST(na AS DECIMAL(38,0)) * (2 * (cumb - nb) + nb)) AS DECIMAL(38,0)) AS u2_a
      |      FROM c)
      |SELECT n_a, n_b, CAST(u2_a AS BIGINT) AS u2_a,
      |  CAST(2 * CAST(n_a AS DECIMAL(38,0)) * n_b - u2_a AS BIGINT) AS u2_b,
      |  round((CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
      |    (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) *
      |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) / 12.0)), 9) AS z
      |FROM t""".stripMargin

  // BLB1: bag of little bootstraps (Kleiner et al., JRSS-B 2014) — the
  // scale-correct bootstrap: resampling n rows with replacement B times is
  // a non-starter at 100 TB, but hashing rows into s=8 disjoint subsets
  // and giving each of 16 replicates deterministic multinomial-ish integer
  // weights (avalanched hash of (event_id, replicate) → 0..6) needs ONE
  // pass — the 16× explode collapses in the map-side combine to 128
  // partial rows per task. Weighted sums route through DECIMAL(12,2) ×
  // integer weight (exact, order-free on both engines); one double
  // division per (subset, replicate) at the end. The replicate means ARE
  // the output — spread across replicates within a subset is the CI width.
  def blb1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reps = (0 until 16).map(i => lit(i.toLong))
    Tables.events(s, dir).filter($"value".isNotNull)
      .select($"event_id", ($"event_id" % 8).as("subset"), $"value")
      .withColumn("r", explode(array(reps: _*)))
      .withColumn("h0", (($"event_id" % lit(2147483648L)) * lit(2654435761L)
        + lit(12345L) + $"r" * lit(1442695041L)) % lit(4294967296L))
      .withColumn("w", expr("(h0 ^ shiftright(h0, 16)) % 7"))
      .groupBy($"subset", $"r")
      .agg(count(lit(1)).as("n"), sum($"w").as("wsum"),
        sum(Oracle.money($"value") * $"w").as("vsum"))
      .select($"subset", $"r".as("replicate"), $"n", $"wsum",
        round($"vsum".cast("double") / $"wsum".cast("double"), 9).as("boot_mean"))
      .orderBy($"subset", $"replicate")
  }
  val blb1Sql: String =
    """WITH reps AS (SELECT unnest(range(0, 16)) AS r),
      |e AS (SELECT event_id, event_id % 8 AS subset, value
      |      FROM events WHERE value IS NOT NULL),
      |x AS (
      |  SELECT subset, r, value,
      |    ((event_id % 2147483648) * 2654435761 + 12345 + r * 1442695041)
      |      % 4294967296 AS h0
      |  FROM e CROSS JOIN reps),
      |wt AS (SELECT subset, r, value, xor(h0, h0 >> 16) % 7 AS w FROM x)
      |SELECT subset, CAST(r AS BIGINT) AS replicate, COUNT(*) AS n,
      |  CAST(SUM(w) AS BIGINT) AS wsum,
      |  round(CAST(SUM(CAST(value AS DECIMAL(12,2)) * w) AS DOUBLE) /
      |        CAST(SUM(w) AS DOUBLE), 9) AS boot_mean
      |FROM wt GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // SEQ1: skip-bigram sequence mining — co-occurring event-type pairs
  // within a gap of ≤3 positions in each user's timeline, the
  // PrefixSpan-style generalization of mk1's adjacent-only transitions
  // (a funnel with an interposed page-view is invisible to mk1; seq1
  // counts it under gap 2/3). NO self-join: three lead() offsets over ONE
  // user-keyed window emit ≤3 pairs per row, so the blowup is a fixed
  // constant and the only shuffle beyond the window sort is the pair
  // count — at 100 TB this is the same single user-partitioned pass mk1
  // does. skip_ratio = share of occurrences that needed the gap.
  def seq1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val l = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("n1", lead($"event_type", 1).over(w))
      .withColumn("n2", lead($"event_type", 2).over(w))
      .withColumn("n3", lead($"event_type", 3).over(w))
    l.select($"event_type".as("src"), explode(array(
        struct(lit(1).as("gap"), $"n1".as("dst")),
        struct(lit(2).as("gap"), $"n2".as("dst")),
        struct(lit(3).as("gap"), $"n3".as("dst")))).as("p"))
      .select($"src", $"p.gap".as("gap"), $"p.dst".as("dst"))
      .filter($"dst".isNotNull)
      .groupBy($"src", $"dst")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"gap" === 1, 1L).otherwise(0L)).as("n_adj"),
        sum(when($"gap" > 1, 1L).otherwise(0L)).as("n_skip"))
      .select($"src", $"dst", $"n_total", $"n_adj", $"n_skip",
        round($"n_skip".cast("double") / $"n_total".cast("double"), 9)
          .as("skip_ratio"))
      .orderBy($"src", $"dst")
  }
  val seq1Sql: String =
    """WITH l AS (
      |  SELECT event_type AS src,
      |    lead(event_type, 1) OVER w AS n1,
      |    lead(event_type, 2) OVER w AS n2,
      |    lead(event_type, 3) OVER w AS n3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |p AS (
      |  SELECT src, 1 AS gap, n1 AS dst FROM l WHERE n1 IS NOT NULL
      |  UNION ALL SELECT src, 2, n2 FROM l WHERE n2 IS NOT NULL
      |  UNION ALL SELECT src, 3, n3 FROM l WHERE n3 IS NOT NULL)
      |SELECT src, dst, COUNT(*) AS n_total,
      |  CAST(SUM(CASE WHEN gap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_adj,
      |  CAST(SUM(CASE WHEN gap > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_skip,
      |  round(CAST(SUM(CASE WHEN gap > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
      |        CAST(COUNT(*) AS DOUBLE), 9) AS skip_ratio
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // AT1: last-touch attribution — each purchase attributed to the user's
  // most recent click within 24 h, via the native as-of exec
  // ([[graft.plans.NativeAsOf]]: one user-keyed shuffle per side, linear
  // per-partition merge; a theta-join would plan nested-loop and die at
  // scale), then one day-keyed rollup. The payload carries the click's own
  // µs ts, so the tolerance is one comparison after the match. Latency sums
  // are exact integer µs; the two ratios are one double division each.
  // Oracle = DuckDB's native ASOF LEFT JOIN with the tolerance applied
  // post-match — engine-independent semantics.
  def at1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the attribution window and the latency are MICROSECOND semantics on
    // both engines: the oracle differences epoch_us values, so the Spark
    // side truncates ts_ns to µs BEFORE the as-of join and the subtraction
    // — under the nanos events encoding, applying the 24 h tolerance in ns
    // (or differencing ns then div 1000) disagrees with the oracle whenever
    // a sub-µs remainder wraps the µs boundary
    val ev = Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", expr("ts_ns div 1000").as("ts_us"), $"ts", $"event_id")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", expr("ts_ns div 1000").as("ts_us"),
        $"event_id".as("click_id"), expr("ts_ns div 1000").as("click_ts_us"))
    val lat = $"ts_us" - $"click_ts_us"
    // null when unmatched, false when the latest click is stale
    val fresh = lat <= 86400L * 1000000L
    graft.plans.NativeAsOf.backward(purchases, clicks, "user_id",
        "ts_us", Seq("click_id", "click_ts_us"))
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        count(when(fresh, $"click_id")).as("n_attributed"),
        sum(when(fresh, lat)).as("slat"))
      // both ratios stay UNROUNDED: the operand-ordered IEEE divisions are
      // bit-identical across engines, while round(x, 6) can disagree by
      // one ulp when x sits on a 6-dp halfway point (observed at sf0.001)
      .select($"day", $"n_purchases", $"n_attributed",
        ($"n_attributed".cast("double") / $"n_purchases".cast("double"))
          .as("attribution_rate"),
        ($"slat".cast("double") / $"n_attributed".cast("double")
          / lit(1000000.0)).as("mean_latency_s"))
      .orderBy($"day")
  }
  val at1Sql: String =
    """WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      |m AS (SELECT p.ts AS pts, c.ts AS cts, c.event_id AS cid
      |      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts),
      |f AS (SELECT pts,
      |        CASE WHEN cts IS NOT NULL AND epoch_us(pts) - epoch_us(cts) <= 86400000000
      |          THEN cid END AS click_id,
      |        CASE WHEN cts IS NOT NULL AND epoch_us(pts) - epoch_us(cts) <= 86400000000
      |          THEN epoch_us(pts) - epoch_us(cts) END AS lat_us
      |      FROM m)
      |SELECT strftime(pts, '%Y-%m-%d') AS day, COUNT(*) AS n_purchases,
      |  COUNT(click_id) AS n_attributed,
      |  CAST(COUNT(click_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS attribution_rate,
      |  CAST(SUM(lat_us) AS DOUBLE) / CAST(COUNT(click_id) AS DOUBLE) / 1000000.0 AS mean_latency_s
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // AU1: rolling 7-day distinct active users per day — the MAU/WAU family
  // done the scalable way: collapse to DISTINCT (day, user) pairs first
  // (one map-side-combinable shuffle over the raw events), fan each pair
  // to the ≤ 7 report days it supports, keep observed days (broadcast
  // day dimension), then count distinct per day. A naive rolling
  // COUNT(DISTINCT) window cannot merge distinct states and a raw-event
  // range self-join explodes; this fanout is 7× a day-user table that is
  // already orders of magnitude smaller than the fact table.
  def au1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ud = Tables.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val days = ud.select($"day".as("rday")).distinct()
    ud.withColumn("off", explode(sequence(lit(0), lit(6))))
      .select(date_add($"day", $"off").as("rday"), $"user_id")
      .join(broadcast(days), "rday")
      .groupBy($"rday").agg(countDistinct($"user_id").as("mau7"))
      .select(date_format($"rday", "yyyy-MM-dd").as("day"), $"mau7")
      .orderBy($"day")
  }
  val au1Sql: String =
    """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |days AS (SELECT DISTINCT day FROM ud),
      |f AS (SELECT d.day AS rday, u.user_id
      |      FROM ud u JOIN days d ON u.day BETWEEN d.day - 6 AND d.day)
      |SELECT strftime(rday, '%Y-%m-%d') AS day, COUNT(DISTINCT user_id) AS mau7
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  // AU2: rolling 7-day actives from MERGED per-day KMV sketches — the
  // production sliding-window rollup: one bounded sketch per day, each
  // report day UNIONS its ≤7 day-sketches (theta algebra: θ_u = min of
  // the contributing θ_d and the merged k-th priority; D̂ = |{pri < θ_u}|
  // ·2³²/θ_u) instead of re-touching raw events per window. Both sketch
  // levels are the same mergeable BottomK aggregate, so the shuffle
  // carries ≤ k ids per (day|rday) group; exact per-day distinct counts
  // ride along for the realized-accuracy flags (au1 recomputes the exact
  // rolling side). Deterministic end to end — sketch contents, thetas,
  // and estimates hash-match the oracle's relational recompute.
  def au2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 256
    val Mod = 4294967296L
    val bk = udaf(new graft.functions.Aggregators.BottomK(k))
    val pri = (c: org.apache.spark.sql.Column) => graft.operators.GlobalRank.knuthHash(c)
    val ud = Tables.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val daySk = ud.groupBy($"day")
      .agg(bk($"user_id").as("sk"), count(lit(1)).as("nd"))
      .withColumn("th_d",
        when($"nd" < k, lit(Mod)).otherwise(pri(element_at($"sk", k))))
    val days = ud.select($"day".as("rday")).distinct()
    val fanned = daySk
      .withColumn("off", explode(sequence(lit(0), lit(6))))
      .select(date_add($"day", $"off").as("rday"), $"sk", $"th_d")
      .join(broadcast(days), "rday")
    val merged = fanned
      .select($"rday", $"th_d", explode($"sk").as("uid"))
      .groupBy($"rday")
      .agg(bk($"uid").as("mk"), min($"th_d").as("th_min"),
        count(lit(1)).as("n_in"))
      .withColumn("th_u", least($"th_min",
        when(size($"mk") >= k, pri(element_at($"mk", k))).otherwise(lit(Mod))))
      .withColumn("nu", size(filter($"mk",
        x => graft.operators.GlobalRank.knuthHash(x) < $"th_u")).cast("long"))
      .withColumn("est_mau7",
        $"nu".cast("double") * lit(4294967296.0) / $"th_u".cast("double"))
    val exact = au1(s, dir).select($"day", $"mau7".as("exact_mau7"))
    merged
      .select(date_format($"rday", "yyyy-MM-dd").as("day"),
        $"nu", $"th_u", $"est_mau7")
      .join(broadcast(exact), "day")
      .select($"day", $"exact_mau7", $"nu", $"th_u", $"est_mau7",
        (abs($"est_mau7" - $"exact_mau7".cast("double")) <=
          lit(0.25) * $"exact_mau7".cast("double") + lit(8.0)).as("ok"))
      .orderBy($"day")
  }
  val au2Sql: String =
    """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |nd AS (SELECT day, COUNT(*) AS nd FROM ud GROUP BY 1),
      |sk AS (SELECT day, user_id, (user_id * 2654435761) % 4294967296 AS pri FROM ud
      |       QUALIFY ROW_NUMBER() OVER (PARTITION BY day
      |         ORDER BY (user_id * 2654435761) % 4294967296, user_id) <= 256),
      |thd AS (SELECT nd.day,
      |          CASE WHEN nd.nd < 256 THEN 4294967296
      |               ELSE (SELECT MAX(pri) FROM sk WHERE sk.day = nd.day) END AS th_d
      |        FROM nd),
      |days AS (SELECT DISTINCT day AS rday FROM ud),
      |fan AS (SELECT d.rday, sk.day, sk.user_id, sk.pri
      |        FROM sk JOIN days d ON sk.day BETWEEN d.rday - 6 AND d.rday),
      |thmin AS (SELECT d.rday, MIN(thd.th_d) AS th_min, COUNT(*) AS n_days
      |          FROM thd JOIN days d ON thd.day BETWEEN d.rday - 6 AND d.rday
      |          GROUP BY 1),
      |mdist AS (SELECT DISTINCT rday, user_id, pri FROM fan),
      |mk AS (SELECT rday, user_id, pri,
      |         ROW_NUMBER() OVER (PARTITION BY rday ORDER BY pri, user_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY rday) AS nm
      |       FROM mdist QUALIFY rn <= 256),
      |thu AS (SELECT mk.rday,
      |          LEAST(tm.th_min, CASE WHEN MAX(mk.nm) >= 256
      |            THEN MAX(CASE WHEN mk.rn = 256 THEN mk.pri END)
      |            ELSE 4294967296 END) AS th_u
      |        FROM mk JOIN thmin tm ON mk.rday = tm.rday
      |        GROUP BY mk.rday, tm.th_min),
      |u AS (SELECT mk.rday, COUNT(*) AS nu
      |      FROM mk JOIN thu ON mk.rday = thu.rday
      |      WHERE mk.pri < thu.th_u GROUP BY 1),
      |ex AS (SELECT d.rday, COUNT(DISTINCT ud.user_id) AS exact_mau7
      |       FROM ud JOIN days d ON ud.day BETWEEN d.rday - 6 AND d.rday
      |       GROUP BY 1)
      |SELECT strftime(ex.rday, '%Y-%m-%d') AS day, ex.exact_mau7,
      |  u.nu, thu.th_u,
      |  CAST(u.nu AS DOUBLE) * 4294967296.0 / CAST(thu.th_u AS DOUBLE) AS est_mau7,
      |  abs(CAST(u.nu AS DOUBLE) * 4294967296.0 / CAST(thu.th_u AS DOUBLE)
      |    - CAST(ex.exact_mau7 AS DOUBLE))
      |    <= 0.25 * CAST(ex.exact_mau7 AS DOUBLE) + 8.0 AS ok
      |FROM ex JOIN u ON ex.rday = u.rday JOIN thu ON ex.rday = thu.rday
      |ORDER BY day""".stripMargin

  // CP1: CUSUM changepoint scan per event_type — the location of the
  // maximum |running sum of deviations from the group mean|, the classic
  // "where did this metric shift" detector. Exactness trick: deviations
  // are scaled to integers as dev = yc·n − Σy (avoiding the non-exact
  // mean), so the running sum is exact long arithmetic AND each group's
  // deviations sum to ZERO — which means the per-type CUSUM falls out of
  // ONE GLOBAL range-partitioned prefix sum over (type, ts, id) order
  // ([[graft.operators.GlobalRank.withPrefixSum]]): at every type
  // boundary the accumulated total of completed types is 0, so no
  // per-type offset correction and NO low-cardinality per-type window
  // (5 types would mean 5 single-threaded sort chains). The argmax is a
  // mergeable max(struct) with a deterministic (abscum, ts, id) tiebreak.
  // KNOWN BOUND: withPrefixSum accumulates in a raw JVM long (no ANSI
  // check), and dev is pre-scaled by the group size n, so |cum| grows
  // ~ n^1.5·σ_cents — past ~1e9 rows/type the accumulator needs the
  // DECIMAL variant of the prefix sum (tracked; DuckDB's HUGEINT window
  // is immune, so a wrap would show as a cross-engine mismatch, not a
  // silent agreement).
  def cp1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.events(s, dir)
      .select($"event_type", $"ts_ns", $"event_id", $"ts",
        round($"value" * 100, 0).cast("long").as("yc"))
    val stats = base.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"yc").as("sy"))
    val dev = base.join(broadcast(stats), "event_type")
      .withColumn("dev", $"yc" * $"n" - $"sy")
    graft.operators.GlobalRank
      .withPrefixSum(dev, Seq($"event_type", $"ts_ns", $"event_id"), $"dev", "cum")
      .withColumn("abscum", abs($"cum"))
      .withColumn("tstr", date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .groupBy($"event_type")
      .agg(max(struct($"abscum", $"ts_ns", $"event_id", $"n", $"tstr")).as("m"))
      .select($"event_type", $"m.n".as("n"), $"m.tstr".as("cp_ts"),
        round($"m.abscum".cast("double") /
          ($"m.n".cast("double") * lit(100.0)), 6).as("cusum_max"))
      .orderBy($"event_type")
  }
  val cp1Sql: String =
    """WITH b AS (SELECT event_type, ts, event_id,
      |             CAST(ROUND(value * 100, 0) AS BIGINT) AS yc FROM events),
      |st AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(yc) AS BIGINT) AS sy
      |       FROM b GROUP BY 1),
      |d AS (SELECT b.event_type, b.ts, b.event_id, st.n, b.yc * st.n - st.sy AS dev
      |      FROM b JOIN st USING (event_type)),
      |c AS (SELECT event_type, ts, event_id, n,
      |        CAST(SUM(dev) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |      FROM d),
      |r AS (SELECT event_type, ts, event_id, n, abs(cum) AS abscum FROM c
      |      QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
      |        ORDER BY abs(cum) DESC, ts DESC, event_id DESC) = 1)
      |SELECT event_type, n, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS cp_ts,
      |  ROUND(CAST(abscum AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6) AS cusum_max
      |FROM r ORDER BY event_type""".stripMargin

  // TH1: theta-sketch set algebra over two KMV sketches — union,
  // intersection, and Jaccard ESTIMATES for segment-overlap questions
  // answered from two k-sized sketches instead of a full distinct-pair
  // shuffle (the Apache DataSketches pattern). The sketches are the
  // mergeable [[graft.functions.Aggregators.BottomK]] (k smallest ids by
  // the Knuth-hash priority); algebra: θ = min(θ_A, θ_B) with θ = 2³² for
  // an exhaustive (<k) sketch, U = merged entries with pri < θ,
  // D̂ = |U|·2³²/θ. Every quantity is deterministic integer arithmetic +
  // one fixed-order double formula, so the whole row — estimates,
  // exact sides, and realized-accuracy flags — hash-matches the oracle,
  // which recomputes the same sketches relationally (ORDER BY pri LIMIT
  // k). Segments are id-arithmetic slices of the click/purchase user
  // sets (the synthetic corpus gives every user every event type, so raw
  // sets would coincide).
  def th1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 256
    val Mod = 4294967296L // 2^32 hash space of the BottomK priority
    val bk = udaf(new graft.functions.Aggregators.BottomK(k))
    val pri = (c: org.apache.spark.sql.Column) => graft.operators.GlobalRank.knuthHash(c)
    val ev = Tables.events(s, dir)
    val aSet = ev.filter($"event_type" === "click" && $"user_id" % 3 =!= 0)
      .select($"user_id")
    val bSet = ev.filter($"event_type" === "purchase" && $"user_id" % 2 === 0)
      .select($"user_id")
    val sa = aSet.agg(bk($"user_id").as("sa"), countDistinct($"user_id").as("na"))
    val sb = bSet.agg(bk($"user_id").as("sb"), countDistinct($"user_id").as("nb"))
    // exact overlap for the realized-accuracy flags: one conditional agg
    // over the union of both segments
    val exact = aSet.select($"user_id", lit(1).as("ia"), lit(0).as("ib"))
      .unionByName(bSet.select($"user_id", lit(0).as("ia"), lit(1).as("ib")))
      .groupBy($"user_id").agg(max($"ia").as("ia"), max($"ib").as("ib"))
      .agg(count(lit(1)).as("exact_union"),
        sum($"ia" * $"ib").as("exact_inter"))
    val thA = when(size($"sa") < k, lit(Mod))
      .otherwise(pri(element_at($"sa", k)))
    val thB = when(size($"sb") < k, lit(Mod))
      .otherwise(pri(element_at($"sb", k)))
    graft.core.ScalarSub.withScalars(
        graft.core.ScalarSub.withScalars(sa, sb), exact)
      .withColumn("theta", least(thA, thB))
      .withColumn("u", filter(array_union($"sa", $"sb"),
        x => graft.operators.GlobalRank.knuthHash(x) < $"theta"))
      .withColumn("nu", size($"u").cast("long"))
      .withColumn("ni", size(filter($"u",
        x => array_contains($"sa", x) && array_contains($"sb", x))).cast("long"))
      .withColumn("est_union",
        $"nu".cast("double") * lit(4294967296.0) / $"theta".cast("double"))
      .withColumn("est_inter",
        $"ni".cast("double") * lit(4294967296.0) / $"theta".cast("double"))
      .select($"na", $"nb", $"exact_union", $"exact_inter",
        $"nu", $"ni", $"theta", $"est_union", $"est_inter",
        ($"ni".cast("double") / $"nu".cast("double")).as("est_jaccard"),
        (abs($"est_union" - $"exact_union".cast("double")) <=
          lit(0.25) * $"exact_union".cast("double") + lit(8.0)).as("ok_union"),
        (abs($"est_inter" - $"exact_inter".cast("double")) <=
          lit(0.25) * $"exact_inter".cast("double") + lit(8.0)).as("ok_inter"))
  }
  val th1Sql: String =
    """WITH a AS (SELECT DISTINCT user_id FROM events
      |           WHERE event_type = 'click' AND user_id % 3 <> 0),
      |b AS (SELECT DISTINCT user_id FROM events
      |      WHERE event_type = 'purchase' AND user_id % 2 = 0),
      |ka AS (SELECT user_id, (user_id * 2654435761) % 4294967296 AS pri FROM a
      |       ORDER BY pri, user_id LIMIT 256),
      |kb AS (SELECT user_id, (user_id * 2654435761) % 4294967296 AS pri FROM b
      |       ORDER BY pri, user_id LIMIT 256),
      |th AS (SELECT LEAST(
      |    CASE WHEN (SELECT COUNT(*) FROM a) < 256 THEN 4294967296
      |         ELSE (SELECT MAX(pri) FROM ka) END,
      |    CASE WHEN (SELECT COUNT(*) FROM b) < 256 THEN 4294967296
      |         ELSE (SELECT MAX(pri) FROM kb) END) AS theta),
      |u AS (SELECT user_id FROM (SELECT user_id FROM ka UNION SELECT user_id FROM kb) m
      |      WHERE (user_id * 2654435761) % 4294967296 < (SELECT theta FROM th)),
      |i AS (SELECT user_id FROM u
      |      WHERE user_id IN (SELECT user_id FROM ka)
      |        AND user_id IN (SELECT user_id FROM kb)),
      |ex AS (SELECT
      |    (SELECT COUNT(*) FROM (SELECT user_id FROM a UNION SELECT user_id FROM b) q) AS exact_union,
      |    (SELECT COUNT(*) FROM (SELECT user_id FROM a INTERSECT SELECT user_id FROM b) q) AS exact_inter)
      |SELECT
      |  (SELECT COUNT(*) FROM a) AS na, (SELECT COUNT(*) FROM b) AS nb,
      |  exact_union, exact_inter,
      |  (SELECT COUNT(*) FROM u) AS nu, (SELECT COUNT(*) FROM i) AS ni,
      |  (SELECT theta FROM th) AS theta,
      |  CAST((SELECT COUNT(*) FROM u) AS DOUBLE) * 4294967296.0
      |    / CAST((SELECT theta FROM th) AS DOUBLE) AS est_union,
      |  CAST((SELECT COUNT(*) FROM i) AS DOUBLE) * 4294967296.0
      |    / CAST((SELECT theta FROM th) AS DOUBLE) AS est_inter,
      |  CAST((SELECT COUNT(*) FROM i) AS DOUBLE)
      |    / CAST((SELECT COUNT(*) FROM u) AS DOUBLE) AS est_jaccard,
      |  abs(CAST((SELECT COUNT(*) FROM u) AS DOUBLE) * 4294967296.0
      |    / CAST((SELECT theta FROM th) AS DOUBLE) - CAST(exact_union AS DOUBLE))
      |    <= 0.25 * CAST(exact_union AS DOUBLE) + 8.0 AS ok_union,
      |  abs(CAST((SELECT COUNT(*) FROM i) AS DOUBLE) * 4294967296.0
      |    / CAST((SELECT theta FROM th) AS DOUBLE) - CAST(exact_inter AS DOUBLE))
      |    <= 0.25 * CAST(exact_inter AS DOUBLE) + 8.0 AS ok_inter
      |FROM ex""".stripMargin

  // FC1: naive-forecast backtest — per event_type, forecast each day's
  // mean value with the previous day's mean (the baseline every real
  // forecasting system must beat) and report MAE + signed bias over the
  // backtest window. The raw facts collapse to a (type × day) frame in
  // one exact-cents groupBy; everything after runs on that bounded frame
  // (lag window partitioned by type over ≤31 rows/type). Determinism:
  // daily means are exact-int ratios divided once; the MAE/bias averages
  // are LEFT FOLDS over the day-sorted error list (t8 discipline), not
  // unordered double sums.
  def fc1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(sum(round($"value" * 100, 0).cast("long")).as("sc"),
        count(lit(1)).as("n"))
      .withColumn("m", $"sc".cast("double") / $"n".cast("double") / lit(100.0))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    daily
      .withColumn("fcst", lag($"m", 1).over(w))
      .filter($"fcst".isNotNull)
      .withColumn("err", $"m" - $"fcst")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct($"day", $"err"))).as("es"))
      .select($"event_type", $"n_days",
        (aggregate($"es", lit(0.0), (a, x) => a + abs(x("err"))) /
          $"n_days".cast("double")).as("mae"),
        (aggregate($"es", lit(0.0), (a, x) => a + x("err")) /
          $"n_days".cast("double")).as("bias"))
      .orderBy($"event_type")
  }
  val fc1Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sc,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |f AS (SELECT event_type, day,
      |        CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS m,
      |        lag(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
      |          OVER (PARTITION BY event_type ORDER BY day) AS fcst
      |      FROM daily),
      |e AS (SELECT event_type, day, m - fcst AS err FROM f WHERE fcst IS NOT NULL),
      |a AS (SELECT event_type, COUNT(*) AS n_days,
      |        list_sort(list(struct_pack(day := day, err := err))) AS es
      |      FROM e GROUP BY 1)
      |SELECT event_type, n_days,
      |  list_reduce(list_transform(es, x -> abs(x.err)), (a, b) -> a + b)
      |    / CAST(n_days AS DOUBLE) AS mae,
      |  list_reduce(list_transform(es, x -> x.err), (a, b) -> a + b)
      |    / CAST(n_days AS DOUBLE) AS bias
      |FROM a ORDER BY event_type""".stripMargin

  // IA1: inter-arrival-time profile — log₂-bucketed histogram of the gap
  // between consecutive events per type, the arrival-process diagnostic
  // (a Poisson stream shows a geometric bucket decay; periodic scrapers
  // spike one bucket). A lag window partitioned by event_type alone
  // would funnel the corpus into |types| sort chains (the wsm1 lesson);
  // instead consecutive pairs decompose exactly into (a) within-(type,
  // day) pairs — lag windows over (type, day) partitions, whose count
  // GROWS with the data span — and (b) day-boundary pairs, recovered
  // from the agg-sized per-(type, present-day) first/last frame with a
  // lag over days (bounded input, so the type-partitioned window there
  // is free). Gaps are exact integer µs; the bucket id is floor(log₂)
  // via binary-string bit length — pure integer semantics; a float log2
  // could straddle power-of-two boundaries differently across libms.
  def ia1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // MICROSECOND domain throughout (ordering, pairing, gaps): the oracle
    // orders by and differences epoch_us, so under the nanos encoding a
    // ts_ns-ordered window would pair same-µs events differently and a
    // ns-difference-then-div gap can land one µs off (at1's fix note)
    val ev = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"),
        expr("ts_ns div 1000").as("ts_us"), $"event_id")
    val inDay = Window.partitionBy($"event_type", $"day")
      .orderBy($"ts_us", $"event_id")
    val within = ev
      .withColumn("prev", lag($"ts_us", 1).over(inDay))
      .filter($"prev".isNotNull)
      .select($"event_type", ($"ts_us" - $"prev").as("gap_us"))
    // day-boundary pairs: (type, present-day) first/last — agg-sized
    val byDay = ev.groupBy($"event_type", $"day")
      .agg(min(struct($"ts_us", $"event_id")).as("first"),
        max(struct($"ts_us", $"event_id")).as("last"))
    val overDays = Window.partitionBy($"event_type").orderBy($"day")
    val boundary = byDay
      .withColumn("prev_last", lag($"last.ts_us", 1).over(overDays))
      .filter($"prev_last".isNotNull)
      .select($"event_type",
        ($"first.ts_us" - $"prev_last").as("gap_us"))
    within.unionByName(boundary)
      .withColumn("bucket", (length(bin($"gap_us" + 1)) - 1).cast("long"))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("cnt"),
        min($"gap_us").as("min_gap_us"), max($"gap_us").as("max_gap_us"))
      .orderBy($"event_type", $"bucket")
  }
  val ia1Sql: String =
    """WITH g AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS t,
      |    (epoch_us(ts) - lag(epoch_us(ts), 1) OVER
      |      (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)) AS gap_us
      |  FROM events)
      |SELECT event_type,
      |  CAST(LENGTH(BIN(gap_us + 1)) - 1 AS BIGINT) AS bucket,
      |  COUNT(*) AS cnt,
      |  MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // W13: expanding-window running total — each purchase row with the
  // user's lifetime spend so far (the LTV-at-event feature). The window
  // partitions by user_id (high-cardinality — per-user state is a handful
  // of rows, nothing funnels), sums exact cents, divides once per row.
  def w13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts_ns", $"event_id",
        round($"value" * 100, 0).cast("long").as("cents"))
      .withColumn("ltv_cents", sum($"cents").over(w))
      .withColumn("n_purchases", count(lit(1)).over(w))
      .filter($"user_id" < 50) // bounded output; the window ran on all rows
      .select($"user_id", $"event_id", $"n_purchases",
        ($"ltv_cents".cast("double") / lit(100.0)).as("ltv"))
      .orderBy($"user_id", $"event_id")
  }
  val w13Sql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_id,
      |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, event_id,
      |        COUNT(*) OVER w AS n_purchases,
      |        CAST(SUM(cents) OVER w AS BIGINT) AS ltv_cents
      |      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
      |        ROWS UNBOUNDED PRECEDING))
      |SELECT user_id, event_id, n_purchases,
      |  CAST(ltv_cents AS DOUBLE) / 100.0 AS ltv
      |FROM r WHERE user_id < 50 ORDER BY user_id, event_id""".stripMargin

  // UP1: user-profile dimension build — first/last touch, event counts,
  // exact lifetime value, and favorite event type (argmax with a
  // deterministic (count, type) tie-break) in ONE pass over the fact
  // table: a (user, type) pre-aggregation followed by a user-keyed
  // max(struct) argmax — both map-side combinable, no windows at all.
  def up1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byType = Tables.events(s, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100, 0).cast("long")).as("cents"),
        min($"ts_ns").as("first_ns"), max($"ts_ns").as("last_ns"))
    byType.groupBy($"user_id")
      .agg(sum($"n").as("n_events"),
        (sum($"cents").cast("double") / lit(100.0)).as("total_value"),
        date_format(timestamp_micros(expr("min(first_ns) div 1000")),
          "yyyy-MM-dd HH:mm:ss").as("first_seen"),
        date_format(timestamp_micros(expr("max(last_ns) div 1000")),
          "yyyy-MM-dd HH:mm:ss").as("last_seen"),
        max(struct($"n", $"event_type")).getField("event_type").as("favorite"))
      .filter($"user_id" < 100)
      .orderBy($"user_id")
  }
  val up1Sql: String =
    """WITH bt AS (
      |  SELECT user_id, event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents,
      |    MIN(ts) AS first_ts, MAX(ts) AS last_ts
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
      |  CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value,
      |  strftime(MIN(first_ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
      |  strftime(MAX(last_ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
      |  MAX(struct_pack(n := n, event_type := event_type)).event_type AS favorite
      |FROM bt WHERE user_id < 100 GROUP BY user_id ORDER BY user_id""".stripMargin

  // HM1: day-of-week × hour activity heatmap — the seasonality profile
  // behind load forecasting and anomaly baselines. One hash aggregate to
  // a fixed 7×24 grid; exact-cents means divided once per cell.
  def hm1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(dayofweek($"ts").cast("long").as("dow"),
        hour($"ts").cast("long").as("hod"))
      .agg(count(lit(1)).as("cnt"),
        (sum(round($"value" * 100, 0).cast("long")).cast("double") /
          (count(lit(1)).cast("double") * lit(100.0))).as("mean_value"))
      .orderBy($"dow", $"hod")
  }
  val hm1Sql: String =
    """SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
      |  CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE)
      |    / (CAST(COUNT(*) AS DOUBLE) * 100.0) AS mean_value
      |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin

  // F4: flag-map selection — the reference's `flags[f]==v` predicate over a
  // dynamic key space; props JSON plays the flag map (MapType access in the
  // TOA schema; JSON here because that's how the events table encodes it).
  def f4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy(($"k" % 10).as("k_bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"k_bucket")
  }
  val f4Sql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
      |  COUNT(*) AS cnt
      |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin

  // F10/F11: regex predicates over text.
  def f10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"text".rlike("scan [a-z]+ join"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang")
  }
  val f10Sql: String =
    """SELECT lang, COUNT(*) AS n_docs FROM documents
      |WHERE regexp_matches(text, 'scan [a-z]+ join')
      |GROUP BY lang ORDER BY lang""".stripMargin

  // W7: argmax row per group (max_by with deterministic tiebreak).
  def w7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value".desc, $"event_id")
    Tables.events(s, dir)
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"event_type", $"event_id", $"value")
      .orderBy($"event_type")
  }
  val w7Sql: String =
    """SELECT event_type, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
      |  FROM events) q WHERE rk = 1 ORDER BY event_type""".stripMargin

  // Sessionization: 30-min-gap sessions per user via lag — the batch
  // equivalent of session_window (streaming layer mirrors this).
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("prev", lag($"us", 1).over(w))
      .withColumn("new_sess",
        when($"prev".isNull || $"us" - $"prev" > 1800000000L, 1L).otherwise(0L))
      .groupBy($"user_id")
      .agg(sum($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }
  val sessionizeSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events)
      |SELECT user_id,
      |  CAST(SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events
      |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin

  // Tumbling 6-hour windows (batch form of the streaming aggregation).
  def tumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = expr("unix_micros(ts) div 21600000000")
    Tables.events(s, dir)
      .withColumn("bucket", bucket)
      .groupBy($"bucket", $"event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(Oracle.money($"value")).cast("double").as("sum_value"))
      .withColumn("window_start",
        date_format(timestamp_micros($"bucket" * 21600000000L), "yyyy-MM-dd HH:mm:ss"))
      .select($"window_start", $"event_type", $"cnt", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }
  val tumblingSql: String =
    """SELECT strftime(make_timestamp(bucket * 21600000000), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM (SELECT epoch_us(ts) // 21600000000 AS bucket, event_type, value FROM events)
      |GROUP BY bucket, event_type ORDER BY window_start, event_type""".stripMargin

  // Sliding 1h/15m windows, batch-exact: an event at bucket b = us div 15m
  // belongs to the 4 windows starting at (b-3..b)*15m.
  def sliding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("b", expr("unix_micros(ts) div 900000000"))
      .withColumn("k", explode(sequence(lit(0), lit(3))))
      .withColumn("w", $"b" - $"k")
      .groupBy($"w", $"event_type")
      .agg(count(lit(1)).as("cnt"), sum(Oracle.money($"value")).cast("double").as("sum_value"))
      .withColumn("window_start",
        date_format(timestamp_micros($"w" * 900000000L), "yyyy-MM-dd HH:mm:ss"))
      .select($"window_start", $"event_type", $"cnt", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }
  val slidingSql: String =
    """SELECT strftime(make_timestamp(w * 900000000), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM (SELECT epoch_us(ts) // 900000000 - k AS w, event_type, value
      |      FROM events, range(0, 4) r(k)) t
      |GROUP BY w, event_type ORDER BY window_start, event_type""".stripMargin

  // X1: power-law PSD over a frequency grid f_k = k/(10 yr) derived from
  // the nation keys — log10 output so rounding is magnitude-stable.
  def x1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val yr = graft.functions.Psd.Constants.YrSec
    Tables.nation(s, dir)
      .select(($"n_nationkey" + 1).cast("long").as("k"))
      .withColumn("f", $"k".cast("double") / (lit(10.0) * lit(yr)))
      .withColumn("log10_psd", round(log10(graft.functions.Psd.powerlaw(
        $"f", lit(-14.5), lit(13.0) / lit(3.0))), 6))
      .select($"k", $"log10_psd")
      .orderBy($"k")
  }
  val x1Sql: String = {
    val yr = graft.functions.Psd.Constants.YrSec
    s"""SELECT k, round(log10(
       |    pow(10, CAST(-14.5 AS DOUBLE) * 2) / (12 * pi() * pi()) * pow($yr, 3.0)
       |    * pow(f * $yr, -(CAST(13 AS DOUBLE) / CAST(3 AS DOUBLE)))), 6) AS log10_psd
       |FROM (SELECT CAST(n_nationkey + 1 AS BIGINT) AS k,
       |        CAST(n_nationkey + 1 AS DOUBLE) / (10.0 * $yr) AS f
       |      FROM nation) t
       |ORDER BY k""".stripMargin
  }

  // AO3: as-of enrichment — every non-signup event gets the user's most
  // recent prior (or simultaneous) signup, through the native
  // whole-operator path (graft.plans.AsOfJoinExec: custom logical node →
  // planner strategy → streaming two-pointer merge exec), hash-checked
  // against DuckDB's native ASOF LEFT JOIN. Each side shuffles at its own
  // width and the merge holds one payload row.
  def asofNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).withColumn("us", unix_micros($"ts"))
    val left = ev.filter($"event_type" =!= "signup")
      .select($"user_id", $"us", $"event_id")
    val right = ev.filter($"event_type" === "signup")
      .select($"user_id", $"us", $"event_id".as("signup_id"))
    graft.plans.NativeAsOf.backward(left, right, "user_id", "us", Seq("signup_id"))
      .select($"event_id", $"signup_id")
      .orderBy($"event_id")
  }
  val asofSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
      |l AS (SELECT event_id, user_id, us FROM ev WHERE event_type <> 'signup'),
      |r AS (SELECT event_id AS signup_id, user_id, us FROM ev WHERE event_type = 'signup')
      |SELECT l.event_id, r.signup_id
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us
      |ORDER BY l.event_id""".stripMargin

  // AO2: FORWARD as-of join — each non-signup event enriched with the next
  // (or simultaneous) signup. Oracle trick: DuckDB ASOF is backward-only,
  // so the oracle negates the timestamps (min us' >= us ⇔ max -us' <= -us).
  def asofForward(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).withColumn("us", unix_micros($"ts"))
    val left = ev.filter($"event_type" =!= "signup")
      .select($"user_id", $"us", $"event_id")
    val right = ev.filter($"event_type" === "signup")
      .select($"user_id", $"us", $"event_id".as("next_signup_id"))
    graft.plans.NativeAsOf.forward(left, right, "user_id", "us", Seq("next_signup_id"))
      .select($"event_id", $"next_signup_id")
      .orderBy($"event_id")
  }
  val asofForwardSql: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
      |l AS (SELECT event_id, user_id, -us AS nus FROM ev WHERE event_type <> 'signup'),
      |r AS (SELECT event_id AS next_signup_id, user_id, -us AS nus FROM ev
      |      WHERE event_type = 'signup')
      |SELECT l.event_id, r.next_signup_id
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.nus >= r.nus
      |ORDER BY l.event_id""".stripMargin

  // SK2: sketch-vs-exact bounds — HLL(1%) distinct counts asserted within
  // 5% of the exact count, emitted as a CHECKABLE boolean next to the exact
  // value (the oracle computes the exact side and expects every flag true).
  def sk2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Dedupe (type, user) pairs FIRST, then aggregate: HLL over a set is
    // identical, and this avoids Spark's countDistinct rewrite dragging the
    // 1639-word HLL buffer through a per-pair groupBy (observed 10× blowup).
    val pairs = Tables.events(s, dir)
      .select($"event_type", $"user_id").distinct()
    pairs.groupBy($"event_type")
      .agg(count(lit(1)).as("n_exact"),
        // rsd 0.02, not 0.01: the flag's corridor is 5%, so 2% stddev is
        // a 2.5 sigma margin — and halving rsd QUADRUPLES the HLL register
        // array each partial task allocates per group (rsd 0.01 measured
        // ~4x the whole query's runtime vs 0.02; flags true at sf0.001-1)
        approx_count_distinct($"user_id", 0.02).as("n_approx"))
      .select($"event_type", $"n_exact",
        (abs($"n_approx" - $"n_exact").cast("double") <=
          lit(0.05) * $"n_exact".cast("double")).as("within_5pct"))
      .orderBy($"event_type")
  }
  val sk2Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // W9: rank-normalization windows — percent_rank and cume_dist of value
  // within each event_type (partitioned windows: no global sort). Doubles
  // out of both engines' identical closed forms hash-match exactly.
  def w9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    Tables.events(s, dir)
      .filter($"user_id" < 3)
      .select($"event_type", $"event_id",
        percent_rank().over(w).as("pr"), cume_dist().over(w).as("cd"))
      .orderBy($"event_type", $"event_id")
  }
  val w9Sql: String =
    """SELECT event_type, event_id,
      |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
      |FROM events WHERE user_id < 3
      |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
      |ORDER BY event_type, event_id""".stripMargin

  // SM1: bottom-k sketch sample — Aggregators.BottomK keeps the k=4 doc ids
  // with the smallest Knuth-hash priority per language: a deterministic
  // uniform sample whose shuffle cost is k longs per group (vs a window
  // row_number sorting every row). posexplode → (lang, rk, doc_id) rows;
  // the oracle replays the same priority ORDER BY in DuckDB.
  def sm1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bottomK = udaf(new graft.functions.Aggregators.BottomK(4))
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(bottomK($"doc_id").as("sample"))
      .select($"lang", posexplode($"sample").as(Seq("pos", "doc_id")))
      .select($"lang", ($"pos" + 1).cast("long").as("rk"), $"doc_id")
      .orderBy($"lang", $"rk")
  }
  val sm1Sql: String =
    """WITH pr AS (
      |  SELECT lang, doc_id, (doc_id * 2654435761) % 4294967296 AS p FROM documents),
      |r AS (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY p, doc_id) AS rk
      |  FROM pr)
      |SELECT lang, rk, doc_id FROM r WHERE rk <= 4 ORDER BY lang, rk""".stripMargin

  // SK1: sketch guarantees made CHECKABLE (sk2 pattern) — HLL distinct
  // counts and approx-quantile estimates are emitted as exact values plus
  // boolean guarantee flags the oracle can assert TRUE: the HLL estimate
  // within 5% of the exact distinct count, and each percentile_approx
  // estimate's REALIZED RANK within ±1% of its target quantile (the sketch
  // promises rank error <= 1/accuracy = 0.1%; 1% is a 10x safety margin).
  // Sketch internals differ across engines, so the flag — not the sketch
  // state — is the portable contract.
  def sketches(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
    val ap = e.groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.02).as("au"), // rsd: see sk2
        percentile_approx($"value", lit(0.5), lit(1000)).as("am"),
        percentile_approx($"value", lit(0.95), lit(1000)).as("ap95"))
    val exactUsers = e.select($"event_type", $"user_id").distinct()
      .groupBy($"event_type").agg(count(lit(1)).as("n_exact_users"))
    // realized rank of each estimate: fraction of rows <= estimate
    val ranks = e.join(broadcast(ap), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        first($"au").as("au"),
        sum(when($"value" <= $"am", 1L).otherwise(0L)).as("le_m"),
        sum(when($"value" <= $"ap95", 1L).otherwise(0L)).as("le_p95"))
    ranks.join(exactUsers, "event_type")
      .select($"event_type", $"n_exact_users",
        (abs($"au" - $"n_exact_users").cast("double") <=
          lit(0.05) * $"n_exact_users".cast("double")).as("hll_within_5pct"),
        (abs($"le_m".cast("double") / $"n".cast("double") - lit(0.5)) <= 0.01)
          .as("median_rank_ok"),
        ($"le_p95".cast("double") / $"n".cast("double")
          between (0.94, 0.96)).as("p95_rank_ok"))
      .orderBy($"event_type")
  }
  val sketchesSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact_users,
      |  TRUE AS hll_within_5pct, TRUE AS median_rank_ok, TRUE AS p95_rank_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // FN1: funnel analysis — per-user ordered progression through
  // view → click → purchase (each later step strictly after the user's
  // earliest completion of the previous one). Three stage tables, each a
  // per-user min — at scale this is one shuffle per stage on user_id with
  // map-side partial mins, never a window over the whole event stream.
  def fn1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).withColumn("us", unix_micros($"ts"))
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("v_us"))
    val c = e.filter($"event_type" === "click").join(v, "user_id")
      .filter($"us" > $"v_us")
      .groupBy($"user_id").agg(min($"us").as("c_us"))
    val p = e.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"us" > $"c_us")
      .groupBy($"user_id").agg(min($"us").as("p_us"))
    v.join(c.select($"user_id", $"c_us"), Seq("user_id"), "left")
      .join(p.select($"user_id", $"p_us"), Seq("user_id"), "left")
      .select($"user_id",
        when($"p_us".isNotNull, 3L).when($"c_us".isNotNull, 2L).otherwise(1L)
          .as("funnel_stage"),
        $"v_us", coalesce($"c_us", lit(-1L)).as("c_us"),
        coalesce($"p_us", lit(-1L)).as("p_us"))
      .orderBy($"user_id")
  }
  val fn1Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, MIN(us) AS v_us FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(us) AS c_us FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE event_type = 'click' AND us > v_us GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(us) AS p_us FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE event_type = 'purchase' AND us > c_us GROUP BY 1)
      |SELECT v.user_id,
      |  CAST(CASE WHEN p_us IS NOT NULL THEN 3 WHEN c_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS funnel_stage,
      |  v_us, COALESCE(c_us, -1) AS c_us, COALESCE(p_us, -1) AS p_us
      |FROM v LEFT JOIN c ON v.user_id = c.user_id LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  // RT1: weekly retention cohorts — cohort = the user's first active epoch
  // week; cell (cohort_week, week) counts users still active. Integer week
  // ids from epoch-microsecond floor-div (`div`, never double `/`). Two
  // user_id shuffles (first-week agg + self-join) and one small agg — the
  // standard cohort matrix at any scale.
  def rt1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .withColumn("wk", expr("unix_micros(ts) div 604800000000"))
    val cohort = e.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    // rows are already distinct per (user, wk) and a user has ONE cohort,
    // so plain count == count-distinct without the extra Expand pass
    e.select($"user_id", $"wk").distinct()
      .join(cohort, "user_id")
      .groupBy($"cohort_wk", $"wk")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_wk", $"wk")
  }
  val rt1Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1)
      |SELECT cohort_wk, wk, COUNT(*) AS n_users
      |FROM (SELECT DISTINCT user_id, wk FROM e) e JOIN c ON e.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_wk, wk""".stripMargin

  // AB1: A/B-test readout — Welch z-statistic of mean event value between
  // two deterministic id-hash buckets, per event_type (the experiment
  // dashboard primitive). One pass of exact integer moments per
  // (type, bucket); z = (m̂_a − m̂_b)/√(v_a/n_a + v_b/n_b) is a single
  // fixed-order double formula per row, so z and the |z|>1.96 flag
  // hash-match the oracle. Under a null split (hash buckets of the same
  // population) the flags should be mostly false — the readout documents
  // its own calibration.
  def ab1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = Tables.events(s, dir)
      .withColumn("bucket",
        graft.operators.GlobalRank.knuthHash($"user_id") % lit(2))
      .groupBy($"event_type", $"bucket")
      .agg(count(lit(1)).as("n"),
        sum(round($"value" * 100, 0).cast("long")).as("s1"),
        // cents^2 ~ 3e9/row: a BIGINT sum overflows within a few e9 rows
        // per (type, bucket) — the reg1 overflow class; DECIMAL(38,0) both
        // engines (readout is a double ratio, so the type cast washes out)
        sum(round($"value" * 100, 0).cast("decimal(38,0)") *
          round($"value" * 100, 0).cast("long")).as("s2"))
    def d6(c: org.apache.spark.sql.Column) = c.cast("double")
    val a = m.filter($"bucket" === 0).select($"event_type",
      $"n".as("na"), $"s1".as("sa1"), $"s2".as("sa2"))
    val b = m.filter($"bucket" === 1).select($"event_type".as("bt"),
      $"n".as("nb"), $"s1".as("sb1"), $"s2".as("sb2"))
    val ma = d6($"sa1") / d6($"na"); val mb = d6($"sb1") / d6($"nb")
    val va = d6($"sa2") / d6($"na") - ma * ma
    val vb = d6($"sb2") / d6($"nb") - mb * mb
    val z = (ma - mb) / sqrt(va / d6($"na") + vb / d6($"nb"))
    a.join(b, $"event_type" === $"bt")
      .select($"event_type", $"na", $"nb",
        (ma / lit(100.0)).as("mean_a"), (mb / lit(100.0)).as("mean_b"),
        z.as("z"), (abs(z) > lit(1.96)).as("significant"))
      .orderBy($"event_type")
  }
  val ab1Sql: String =
    """WITH m AS (
      |  SELECT event_type,
      |    CAST((user_id * 2654435761) % 4294967296 % 2 AS BIGINT) AS bucket,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS s1,
      |    CAST(SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(38,0))
      |      * CAST(ROUND(value * 100, 0) AS BIGINT)) AS DECIMAL(38,0)) AS s2
      |  FROM events GROUP BY 1, 2),
      |a AS (SELECT event_type, n AS na, s1 AS sa1, s2 AS sa2 FROM m WHERE bucket = 0),
      |b AS (SELECT event_type AS bt, n AS nb, s1 AS sb1, s2 AS sb2 FROM m WHERE bucket = 1)
      |SELECT event_type, na, nb,
      |  CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE) / 100.0 AS mean_a,
      |  CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0 AS mean_b,
      |  (CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE) - CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE))
      |   / sqrt((CAST(sa2 AS DOUBLE) / CAST(na AS DOUBLE)
      |       - (CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE)) * (CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE)))
      |       / CAST(na AS DOUBLE)
      |     + (CAST(sb2 AS DOUBLE) / CAST(nb AS DOUBLE)
      |       - (CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE)) * (CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE)))
      |       / CAST(nb AS DOUBLE)) AS z,
      |  abs((CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE) - CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE))
      |   / sqrt((CAST(sa2 AS DOUBLE) / CAST(na AS DOUBLE)
      |       - (CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE)) * (CAST(sa1 AS DOUBLE) / CAST(na AS DOUBLE)))
      |       / CAST(na AS DOUBLE)
      |     + (CAST(sb2 AS DOUBLE) / CAST(nb AS DOUBLE)
      |       - (CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE)) * (CAST(sb1 AS DOUBLE) / CAST(nb AS DOUBLE)))
      |       / CAST(nb AS DOUBLE))) > 1.96 AS significant
      |FROM a JOIN b ON event_type = bt ORDER BY event_type""".stripMargin

  // RT2: cohort LTV curve — mean cumulative spend per user by cohort week
  // and weeks-since-first-seen (the "does week-3 revenue repeat across
  // cohorts" readout). Facts collapse to (cohort, age) exact-cent sums
  // first; the cumulative step is a window over that bounded grid
  // (cohorts × ages, independent of corpus size). Denominator is the
  // cohort's USER count — users inactive in a week still dilute the
  // curve, which is the honest LTV convention.
  def rt2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .withColumn("wk", expr("unix_micros(ts) div 604800000000"))
      .withColumn("cents", round($"value" * 100, 0).cast("long"))
    val cohort = e.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    val sized = cohort.groupBy($"cohort_wk").agg(count(lit(1)).as("cohort_users"))
    val grid = e.join(cohort, "user_id")
      .groupBy($"cohort_wk", ($"wk" - $"cohort_wk").as("age_wk"))
      .agg(sum($"cents").as("cents"))
    val w = Window.partitionBy($"cohort_wk").orderBy($"age_wk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum_cents", sum($"cents").over(w))
      .join(broadcast(sized), "cohort_wk")
      .select($"cohort_wk", $"age_wk", $"cohort_users",
        ($"cum_cents".cast("double") /
          ($"cohort_users".cast("double") * lit(100.0))).as("ltv_per_user"))
      .orderBy($"cohort_wk", $"age_wk")
  }
  val rt2Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
      |             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1),
      |sz AS (SELECT cohort_wk, COUNT(*) AS cohort_users FROM c GROUP BY 1),
      |g AS (SELECT c.cohort_wk, e.wk - c.cohort_wk AS age_wk,
      |        CAST(SUM(e.cents) AS BIGINT) AS cents
      |      FROM e JOIN c ON e.user_id = c.user_id GROUP BY 1, 2),
      |cum AS (SELECT cohort_wk, age_wk,
      |          CAST(SUM(cents) OVER (PARTITION BY cohort_wk ORDER BY age_wk
      |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |        FROM g)
      |SELECT cum.cohort_wk, cum.age_wk, sz.cohort_users,
      |  CAST(cum_cents AS DOUBLE) / (CAST(sz.cohort_users AS DOUBLE) * 100.0) AS ltv_per_user
      |FROM cum JOIN sz ON cum.cohort_wk = sz.cohort_wk
      |ORDER BY cum.cohort_wk, cum.age_wk""".stripMargin

  // TWA1: time-weighted average — each observation weighted by how long it
  // was current (lead-timestamp delta), the correct mean for irregularly
  // sampled series. Durations are exact integer µs, values go through the
  // DECIMAL route, one double division at the end — bit-exact, no rounding.
  // One user-partitioned window + one groupBy: two user_id shuffles total.
  def twa1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("dur", lead($"us", 1).over(w) - $"us")
      .filter($"dur".isNotNull)
      // integer cents × integer µs: the weighted sum stays an exact
      // INTEGER decimal, and integer→double casts round identically on
      // both engines (a scaled decimal→double cast does NOT: DuckDB
      // divides int128 by 10^scale in float — a second rounding)
      .withColumn("cents", (Oracle.money($"value") * 100).cast("decimal(38,0)"))
      .groupBy($"user_id")
      .agg(sum($"cents" * $"dur").as("vd"), sum($"dur").as("d"),
        count(lit(1)).as("n_intervals"))
      .select($"user_id", $"n_intervals",
        ($"vd".cast("double") / ($"d" * 100).cast("double")).as("twa_value"))
      .orderBy($"user_id")
  }
  val twa1Sql: String =
    """WITH t AS (
      |  SELECT user_id,
      |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS DECIMAL(38,0)) AS cents,
      |    epoch_us(ts) AS us,
      |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |      - epoch_us(ts) AS dur
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_intervals,
      |  CAST(SUM(cents * dur) AS DOUBLE)
      |    / CAST(CAST(SUM(dur) AS BIGINT) * 100 AS DOUBLE) AS twa_value
      |FROM t WHERE dur IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin

  // O1: OHLC bars — open/high/low/close/volume per 6-hour bucket and
  // event_type, the standard downsampling of a value stream. Open/close
  // come from row_number at both ends of the SAME bucket-partitioned
  // window order (deterministic event_id tiebreak); conditional MAX
  // folds them into one aggregation pass.
  def o1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wAsc = Window.partitionBy($"bucket", $"event_type").orderBy($"us", $"event_id")
    val wDesc = Window.partitionBy($"bucket", $"event_type").orderBy($"us".desc, $"event_id".desc)
    Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("bucket", expr("unix_micros(ts) div 21600000000"))
      .withColumn("ra", row_number().over(wAsc))
      .withColumn("rd", row_number().over(wDesc))
      .groupBy($"bucket", $"event_type")
      .agg(max(when($"ra" === 1, $"value")).as("open"),
        max($"value").as("high"), min($"value").as("low"),
        max(when($"rd" === 1, $"value")).as("close"),
        count(lit(1)).as("volume"),
        sum(Oracle.money($"value")).cast("double").as("sum_value"))
      .withColumn("window_start",
        date_format(timestamp_micros($"bucket" * 21600000000L), "yyyy-MM-dd HH:mm:ss"))
      .select($"window_start", $"event_type", $"open", $"high", $"low", $"close",
        $"volume", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }
  val o1Sql: String =
    """WITH t AS (
      |  SELECT epoch_us(ts) // 21600000000 AS bucket, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY epoch_us(ts) // 21600000000, event_type
      |                       ORDER BY epoch_us(ts), event_id) AS ra,
      |    ROW_NUMBER() OVER (PARTITION BY epoch_us(ts) // 21600000000, event_type
      |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rd
      |  FROM events)
      |SELECT strftime(make_timestamp(bucket * 21600000000), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, MAX(CASE WHEN ra = 1 THEN value END) AS open,
      |  MAX(value) AS high, MIN(value) AS low,
      |  MAX(CASE WHEN rd = 1 THEN value END) AS close,
      |  COUNT(*) AS volume,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM t GROUP BY bucket, event_type ORDER BY window_start, event_type""".stripMargin

  /** z1: per-user anomaly detection — flag events whose value is more than
    * 2.5 population standard deviations from that user's mean. Moments come
    * from exact DECIMAL sums (Σv as DECIMAL(12,2), Σv² as the exact decimal
    * square product), so mean/std are bit-identical doubles on both engines
    * and the z-scores hash-match without tolerance. groupBy+broadcast-back
    * instead of a per-user window: the aggregate is map-side combinable and
    * the stats table is user-count-sized (dimension-small), where a window
    * sorts every fact row.
    */
  def z1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val st = ev.groupBy($"user_id".as("su"))
      .agg(sum(Oracle.money($"value")).as("sv"),
        sum((Oracle.money($"value") * Oracle.money($"value")).cast(DecimalType(28, 4))).as("svv"),
        count(lit(1)).as("n"))
      .withColumn("mean", $"sv".cast("double") / $"n")
      .withColumn("std",
        sqrt($"svv".cast("double") / $"n" - $"mean" * $"mean"))
    ev.join(broadcast(st), $"user_id" === $"su")
      .withColumn("z", ($"value" - $"mean") / $"std")
      .filter($"n" >= 8 && $"std" > 0 && abs($"z") > 2.5)
      .select($"event_id", $"user_id", $"event_type",
        round($"z", 6).as("z"))
      .orderBy($"event_id")
  }

  val z1Sql: String =
    """WITH st AS (
      |  SELECT user_id AS su,
      |    SUM(CAST(value AS DECIMAL(12,2))) AS sv,
      |    SUM(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(28,4))) AS svv,
      |    COUNT(*) AS n
      |  FROM events GROUP BY user_id),
      |m AS (SELECT su, n, CAST(sv AS DOUBLE) / n AS mean,
      |        sqrt(CAST(svv AS DOUBLE) / n - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n)) AS std
      |      FROM st)
      |SELECT event_id, user_id, event_type,
      |  round((value - mean) / std, 6) AS z
      |FROM events JOIN m ON user_id = su
      |WHERE n >= 8 AND std > 0 AND abs((value - mean) / std) > 2.5
      |ORDER BY event_id""".stripMargin

  /** zo1: Z-order locality audit — Morton-interleave (user_id, value
    * cents) and aggregate per coarse z-bucket. Each bucket's (min,max)
    * envelope is tight in BOTH dimensions — the property that lets a
    * z-clustered layout ([[graft.sinks.CorpusExport.writeZOrdered]]) prune
    * files on either predicate. The interleave is plain shift/and/or
    * arithmetic mirrored term-for-term into the oracle SQL, all integer →
    * exact.
    */
  def zo1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = Tables.events(s, dir).select(
      $"user_id",
      least((Oracle.money($"value") * 100).cast("long"), lit(65535L)).as("cents"),
      expr("user_id % 65536").as("xa"))
    q.withColumn("z", graft.functions.ZOrder.interleave16($"xa", $"cents"))
      .withColumn("zbucket", expr("z div 4194304"))
      .groupBy($"zbucket")
      .agg(count(lit(1)).as("n"),
        min($"user_id").as("min_user"), max($"user_id").as("max_user"),
        min($"cents").as("min_cents"), max($"cents").as("max_cents"))
      .orderBy($"zbucket")
  }

  val zo1Sql: String = {
    val z = graft.functions.ZOrder.interleave16Sql("xa", "cents")
    s"""WITH q AS (
       |  SELECT user_id,
       |    LEAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT), 65535) AS cents,
       |    user_id % 65536 AS xa
       |  FROM events),
       |z AS (SELECT user_id, cents, $z AS z FROM q)
       |SELECT z // 4194304 AS zbucket, COUNT(*) AS n,
       |  MIN(user_id) AS min_user, MAX(user_id) AS max_user,
       |  MIN(cents) AS min_cents, MAX(cents) AS max_cents
       |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin
  }

  /** gf1: time-series gap filling — a regular 6-hour grid per user,
    * forward-filled with the user's most recent reading (sensor/metric
    * densification). The fill is [[graft.plans.NativeAsOf.backward]] —
    * the same as-of exec as ao3_asof_native, on a second use case; grid
    * rows before a user's first reading stay null →
    * filled flag false. Readings collapse to one per (user, µs) first so
    * the as-of match is deterministic under timestamp ties.
    */
  def gf1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val start = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val step = 21600000000L       // 6 h
    val readings = Tables.events(s, dir)
      .filter($"user_id" < 50)
      .groupBy($"user_id", unix_micros($"ts").as("us"))
      .agg(max($"value").as("v"))
    val grid = readings.select($"user_id").distinct()
      .select($"user_id", explode(sequence(lit(0L), lit(119L))).as("i"))
      .select($"user_id", (lit(start) + $"i" * lit(step)).as("us"))
    graft.plans.NativeAsOf.backward(grid, readings, "user_id", "us", Seq("v"))
      .select($"user_id", $"us",
        coalesce($"v", lit(0.0)).as("v_filled"),
        $"v".isNotNull.as("filled"))
      .orderBy($"user_id", $"us")
  }

  val gf1Sql: String =
    """WITH r AS (
      |  SELECT user_id, epoch_us(ts) AS us, MAX(value) AS v
      |  FROM events WHERE user_id < 50 GROUP BY 1, 2),
      |u AS (SELECT DISTINCT user_id FROM r),
      |g AS (SELECT user_id, 1704067200000000 + 21600000000 * i AS us
      |      FROM u, (SELECT unnest(range(0, 120)) AS i))
      |SELECT g.user_id, g.us, coalesce(r.v, 0.0) AS v_filled,
      |  r.v IS NOT NULL AS filled
      |FROM g ASOF LEFT JOIN r ON g.user_id = r.user_id AND g.us >= r.us
      |ORDER BY g.user_id, g.us""".stripMargin

  /** scd1: slowly-changing-dimension (type 2) intervals — collapse each
    * user's event stream into validity windows of a tracked state (the
    * props k mod 4 bucket): a new interval opens when the state CHANGES
    * (gaps-and-islands), closes at the next change, stays open (null) for
    * the current state. Everything is per-user window work — partitioned
    * by the natural key, no global sort; the warehouse CDC-merge shape.
    */
  def scd1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val e = Tables.events(s, dir)
      .filter($"user_id" < 30)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        (get_json_object($"props", "$.k").cast("long") % 4).as("state"))
    val starts = e
      .withColumn("prev", lag($"state", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"state")
    starts
      .withColumn("valid_to", lead($"us", 1).over(w))
      .select($"user_id", $"state", $"us".as("valid_from"), $"valid_to")
      .orderBy($"user_id", $"valid_from")
  }

  val scd1Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS state
      |  FROM events WHERE user_id < 30),
      |m AS (SELECT *, lag(state) OVER w AS prev FROM e
      |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |st AS (SELECT user_id, us, event_id, state FROM m
      |       WHERE prev IS NULL OR prev <> state)
      |SELECT user_id, state, us AS valid_from,
      |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to
      |FROM st ORDER BY user_id, valid_from""".stripMargin

  /** im1: incremental aggregate maintenance — a stored per-key aggregate
    * (the history partition) merged with a new batch's partial aggregate
    * via full-outer join + coalesced combine, WITHOUT rescanning history
    * rows. Works because count/sum are algebraic (mergeable) — the same
    * property that makes them map-side combinable. The oracle computes the
    * full aggregate directly, so the hash match IS the proof that
    * incremental == recompute. The 100 TB shape: a daily ingest updates a
    * key-count-sized state table instead of re-aggregating the fact table.
    */
  def im1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val decZero = lit(0).cast(DecimalType(22, 2))
    def partial(df: DataFrame, suffix: String): DataFrame =
      df.groupBy($"event_type")
        .agg(count(lit(1)).as(s"n_$suffix"), sum(Oracle.money($"value")).as(s"sv_$suffix"))
    val stored = partial(ev.filter($"event_id" % 5 =!= 4), "h")
    val batch = partial(ev.filter($"event_id" % 5 === 4), "b")
    stored.join(batch, Seq("event_type"), "full_outer")
      .select($"event_type",
        (coalesce($"n_h", lit(0L)) + coalesce($"n_b", lit(0L))).as("n"),
        (coalesce($"sv_h", decZero) + coalesce($"sv_b", decZero))
          .cast("double").as("sum_value"))
      .withColumn("avg_value", $"sum_value" / $"n")
      .orderBy($"event_type")
  }

  val im1Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** w10: winsorized (robust) statistics — per event_type, clamp values to
    * the [p05, p95] DISCRETE percentiles, then take the mean. Discrete
    * (nearest-rank) percentiles are actual data values, so the clamped
    * column stays 2-decimal and the mean comes from an exact DECIMAL sum —
    * interpolating percentiles would inject engine-specific float
    * interpolation into the hash. Rank bounds use the identical
    * `CEIL(n * q)` double expression on both engines. Windows are
    * partitioned by the group key — no global sort.
    */
  def w10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Counting-sort percentile: aggregate to (group, value) COUNTS first
    // (map-side combinable), then window over the distinct-value table —
    // orders of magnitude fewer rows through the per-group sort than
    // ranking every raw event (and the only full-data pass is a groupBy).
    // value at rank r = smallest value whose running count reaches r.
    val byVal = Window.partitionBy($"event_type").orderBy($"value")
    val grp = Window.partitionBy($"event_type")
    val counts = Tables.events(s, dir)
      .groupBy($"event_type", $"value").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(byVal))
      .withColumn("n", sum($"c").over(grp))
    val bounds = counts.groupBy($"event_type".as("bt")).agg(
      min(when($"cum" >= ceil($"n" * 0.05).cast("long"), $"value")).as("p05"),
      min(when($"cum" >= ceil($"n" * 0.95).cast("long"), $"value")).as("p95"))
    Tables.events(s, dir)
      .join(broadcast(bounds), $"event_type" === $"bt")
      .withColumn("wv", least(greatest($"value", $"p05"), $"p95"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        max($"p05").as("p05"), max($"p95").as("p95"),
        (sum(Oracle.money($"wv")).cast("double") / count(lit(1))).as("winsorized_mean"),
        (sum(Oracle.money($"value")).cast("double") / count(lit(1))).as("raw_mean"))
      .orderBy($"event_type")
  }

  val w10Sql: String =
    """WITH counts AS (
      |  SELECT event_type, value, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, value,
      |    SUM(c) OVER (PARTITION BY event_type ORDER BY value
      |                 ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(c) OVER (PARTITION BY event_type) AS n
      |  FROM counts),
      |bounds AS (
      |  SELECT event_type AS bt,
      |    MIN(CASE WHEN cum >= CAST(CEIL(n * 0.05) AS BIGINT) THEN value END) AS p05,
      |    MIN(CASE WHEN cum >= CAST(CEIL(n * 0.95) AS BIGINT) THEN value END) AS p95
      |  FROM cum GROUP BY 1)
      |SELECT event_type, COUNT(*) AS n, MAX(p05) AS p05, MAX(p95) AS p95,
      |  CAST(SUM(CAST(LEAST(GREATEST(value, p05), p95) AS DECIMAL(12,2))) AS DOUBLE)
      |    / COUNT(*) AS winsorized_mean,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS raw_mean
      |FROM events JOIN bounds ON event_type = bt
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // CMS1: count-min-sketch frequency estimation with a checkable guarantee
  // (the sk2/hh1 pattern: the oracle computes the exact side and expects
  // the realized guarantee flags TRUE — the run itself is the proof the
  // sketch kept its promise on this data).
  //
  //  - cms_lower_ok: est ≥ true count — holds with probability 1 (every
  //    occurrence increments all d probed cells).
  //  - cms_within_bound: est ≤ true + 100·N/w — Markov per row bounds the
  //    expected excess by N/w; min over d=4 independent rows exceeds
  //    100·N/w with probability ≤ 10⁻⁸ per item.
  //
  // 100 TB posture: the sketch build is ONE global aggregate whose buffer
  // is a fixed d·w long array (map-side partials merge by vector add — the
  // shuffle carries 4096 longs per partition, not the item cardinality);
  // the probe is codegen'd column arithmetic over the broadcast 1-row
  // sketch. The exact side here exists only to assert the guarantee.
  private val CmsD = 4
  private val CmsW = 1024
  def cms1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.Aggregators
    val clicks = Tables.events(s, dir)
      .filter($"event_type" === "click").select($"user_id")
    val cm = udaf(new Aggregators.CountMin(CmsD, CmsW))
    val sk = clicks.agg(cm($"user_id").as("sketch"), count(lit(1)).as("n"))
    val exact = clicks.groupBy($"user_id").agg(count(lit(1)).as("true_n"))
    graft.core.ScalarSub.withScalars(
        exact.orderBy($"true_n".desc, $"user_id").limit(20), sk)
      .withColumn("est", Aggregators.CountMin.estimate($"sketch", $"user_id", CmsD, CmsW))
      .select($"user_id", $"true_n",
        ($"est" >= $"true_n").as("cms_lower_ok"),
        ($"est" <= $"true_n" + lit(100L) * $"n" / lit(CmsW.toLong)).as("cms_within_bound"))
      .orderBy($"true_n".desc, $"user_id")
  }
  val cms1Sql: String =
    """WITH c AS (SELECT user_id, COUNT(*) AS true_n FROM events
      |           WHERE event_type = 'click' GROUP BY user_id)
      |SELECT user_id, true_n, TRUE AS cms_lower_ok, TRUE AS cms_within_bound
      |FROM c ORDER BY true_n DESC, user_id LIMIT 20""".stripMargin

  // RB1: robust outlier detection via median absolute deviation — the
  // scale-safe alternative to z1's mean/stddev z-score when the value
  // distribution is heavy-tailed (median and MAD have a 50% breakdown
  // point; mean/stddev have 0%). Two exact-percentile aggregations over
  // the fact table plus a scoring pass; the per-type (med, mad) relation
  // is group-cardinality-sized, so both re-joins broadcast — at 100 TB the
  // fact table is scanned three times but never shuffled on anything wider
  // than event_type. Outlier rule: |value − med| > 3·1.4826·mad (1.4826
  // makes MAD consistent with σ under normality).
  def rb1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_type", $"value")
    val med = ev.groupBy($"event_type")
      .agg(percentile($"value", lit(0.5)).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy($"event_type")
      .agg(percentile(abs($"value" - $"med"), lit(0.5)).as("mad"),
        max($"med").as("med"))
    ev.join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(max($"med"), 9).as("med"), round(max($"mad"), 9).as("mad"),
        sum(when(abs($"value" - $"med") > lit(3.0) * lit(1.4826) * $"mad", 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy($"event_type")
  }
  val rb1Sql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |mad AS (
      |  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad,
      |    MAX(m.med) AS med
      |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
      |SELECT e.event_type, COUNT(*) AS n, round(MAX(m.med), 9) AS med,
      |  round(MAX(m.mad), 9) AS mad,
      |  CAST(SUM(CASE WHEN abs(e.value - m.med) > 3.0 * 1.4826 * m.mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM events e JOIN mad m USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // PATH1: top user-journey paths — the ordered event-type sequence of
  // each 30-min-gap session (same session rule as w_sessionize), counted
  // corpus-wide. The path is truncated to the session's first 8 events
  // BEFORE collect_list (row_number filter), so per-group state is O(8)
  // no matter how long a bot session runs — the unbounded collect_list
  // is the scale trap this query deliberately avoids. Struct-sort on
  // (us, event_id) makes the within-session order total, so the path
  // string is deterministic.
  def path1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val sess = Tables.events(s, dir)
      .withColumn("us", unix_micros($"ts"))
      .withColumn("prev", lag($"us", 1).over(w))
      .withColumn("new_sess",
        when($"prev".isNull || $"us" - $"prev" > 1800000000L, 1L).otherwise(0L))
      .withColumn("sess", sum($"new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val w2 = Window.partitionBy($"user_id", $"sess").orderBy($"us", $"event_id")
    sess.withColumn("rk", row_number().over(w2)).filter($"rk" <= 8)
      .groupBy($"user_id", $"sess")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(us, event_id, event_type)))," +
          " x -> x.event_type)"), ">").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path").limit(20)
  }
  val path1Sql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    LAG(epoch_us(ts)) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |s AS (
      |  SELECT user_id, event_id, event_type, us,
      |    SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM t),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess
      |                               ORDER BY us, event_id) AS rk
      |  FROM s),
      |p AS (
      |  SELECT user_id, sess,
      |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
      |  FROM r WHERE rk <= 8 GROUP BY 1, 2)
      |SELECT path, COUNT(*) AS n_sessions FROM p
      |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  // GINI1: activity-concentration audit — the Gini coefficient and
  // top-decile share of per-user event counts, the "is one crawler 40% of
  // the corpus" readout run before any per-user quota. The global sort
  // that Gini's rank formula needs goes through GlobalRank.withRowNumber
  // (range-partitioned rank, no single-partition stage); the Σ r·x_r
  // moment is summed in DECIMAL(38,0) so both engines are exact and the
  // one double conversion happens at the very end.
  def gini1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables.events(s, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.GlobalRank.withRowNumber(
      counts, Seq($"cnt", $"user_id"), rn = "rk", nTotal = Some("n"))
    ranked
      .agg(max($"n").as("n_users"), sum($"cnt").as("total_events"),
        sum(($"rk" * $"cnt").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("s"),
        sum(when($"rk" > $"n" - expr("n div 10"), $"cnt").otherwise(0L)).as("td"))
      .select($"n_users", $"total_events",
        round(lit(2.0) * $"s".cast("double") /
          ($"n_users".cast("double") * $"total_events".cast("double")) -
          ($"n_users".cast("double") + lit(1.0)) / $"n_users".cast("double"), 9)
          .as("gini"),
        round($"td".cast("double") / $"total_events".cast("double"), 9)
          .as("top_decile_share"))
  }
  val gini1Sql: String =
    """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
      |m AS (SELECT COUNT(*) AS n, SUM(cnt) AS tot FROM c),
      |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, user_id) AS rk FROM c),
      |a AS (SELECT CAST(SUM(CAST(rk * cnt AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
      |        CAST(SUM(CASE WHEN rk > n - n // 10 THEN cnt ELSE 0 END) AS BIGINT) AS td,
      |        MAX(n) AS n, CAST(MAX(tot) AS BIGINT) AS tot
      |      FROM r, m)
      |SELECT n AS n_users, tot AS total_events,
      |  round(2.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
      |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 9) AS gini,
      |  round(CAST(td AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS top_decile_share
      |FROM a""".stripMargin

  // HLL1: HyperLogLog distinct-count sketch (m = 64 registers) next to the
  // exact count — the industry-standard mergeable cardinality sketch
  // alongside the KMV family (sk1/th1/au2). Register state is ≤ 64 bytes
  // per group no matter the corpus, so rolling/unioned variants shuffle
  // O(m) instead of O(distinct). Cross-engine bit-exactness trick: with an
  // 18-bit suffix, Σ 2^−M_j = (Σ 2^(19−M_j)) / 2^19 — an INTEGER sum, so
  // the harmonic estimate is one double division from exact longs and
  // hash-matches DuckDB; empty registers contribute V·2^19 arithmetically
  // (no 64-row completion join). rho comes from an 18-branch threshold
  // ladder (exact integer compares — floor(log2) is a cross-libm trap).
  // Hash = the engine's deterministic LCG discipline, not an engine hash.
  def hll1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_type", $"user_id")
    val regs = hllRegRho(ev)
      .groupBy($"event_type", $"reg").agg(max($"rho").as("m"))
    val sket = regs.groupBy($"event_type").agg(
      count(lit(1)).as("nreg"),
      sum(expr("shiftleft(cast(1 as bigint), 19 - m)")).as("s_nonempty"))
      .withColumn("v_empty", lit(64L) - $"nreg")
      .withColumn("s_sum", $"s_nonempty" + $"v_empty" * lit(524288L))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"))
    sket.join(broadcast(exact), "event_type")
      .withColumn("est_raw",
        lit(0.709) * lit(4096.0) * lit(524288.0) / $"s_sum")
      .withColumn("used_linear", $"est_raw" <= 160.0 && $"v_empty" > 0)
      .withColumn("est0", when($"used_linear",
        lit(64.0) * log(lit(64.0) / $"v_empty")).otherwise($"est_raw"))
      .select($"event_type", $"n_exact", $"v_empty", $"s_sum",
        round($"est_raw", 6).as("est_raw"), $"used_linear",
        round($"est0", 6).as("est"),
        (abs($"est0" - $"n_exact") / $"n_exact" <= 0.3).as("within_tolerance"))
      .orderBy($"event_type")
  }
  val hll1Sql: String = {
    val ladder = (1 to 18)
      .map(k => s"WHEN w >= ${1L << (18 - k)} THEN $k").mkString(" ")
    s"""WITH e0 AS (SELECT event_type, user_id,
       |              (user_id * 2654435761 + 12345) %% 4294967296 AS h0
       |            FROM events),
       |e1 AS (SELECT event_type, user_id, xor(h0, h0 >> 16) AS h1 FROM e0),
       |e2 AS (SELECT event_type, user_id, (h1 * 49632381) %% 4294967296 AS h2 FROM e1),
       |e3 AS (SELECT event_type, user_id, xor(h2, h2 >> 13) AS h3 FROM e2),
       |e4 AS (SELECT event_type, user_id, (h3 * 179424673) %% 4294967296 AS h4 FROM e3),
       |e AS (SELECT event_type, user_id, xor(h4, h4 >> 16) %% 16777216 AS h FROM e4),
       |b AS (SELECT event_type, h %% 64 AS reg, h // 64 AS w FROM e),
       |r AS (SELECT event_type, reg,
       |        MAX(CASE $ladder ELSE 19 END) AS m
       |      FROM b GROUP BY 1, 2),
       |k AS (SELECT event_type, COUNT(*) AS nreg,
       |        CAST(SUM(CAST(1 AS BIGINT) << (19 - m)) AS BIGINT) AS sn
       |      FROM r GROUP BY 1),
       |x AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
       |      FROM e GROUP BY 1),
       |j AS (SELECT k.event_type, n_exact,
       |        CAST(64 - nreg AS BIGINT) AS v_empty,
       |        sn + CAST(64 - nreg AS BIGINT) * 524288 AS s_sum
       |      FROM k JOIN x ON k.event_type = x.event_type),
       |f AS (SELECT *,
       |        CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
       |          * CAST(524288 AS DOUBLE) / s_sum AS est_raw
       |      FROM j),
       |g AS (SELECT *,
       |        (est_raw <= CAST(160 AS DOUBLE) AND v_empty > 0) AS used_linear
       |      FROM f),
       |z AS (SELECT *,
       |        CASE WHEN used_linear
       |          THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v_empty)
       |          ELSE est_raw END AS est0
       |      FROM g)
       |SELECT event_type, n_exact, v_empty, s_sum, round(est_raw, 6) AS est_raw,
       |  used_linear, round(est0, 6) AS est,
       |  (abs(est0 - n_exact) / n_exact <= CAST(0.3 AS DOUBLE)) AS within_tolerance
       |FROM z ORDER BY event_type""".stripMargin.replace("%%", "%")
  }

  // RFM1: recency/frequency/monetary quintile segmentation — the classic
  // customer-value grid, scored the scale-safe way: each metric's NTILE(5)
  // comes from GlobalRank's range-partitioned row number +
  // `ntileFromRank` (exact NTILE bucket arithmetic), so there is NO
  // global single-partition window anywhere. Three rank passes over the
  // user-sized frame (already orders of magnitude smaller than the fact
  // table), then one hash agg to the ≤125-cell grid with a CASE segment
  // label. Monetary stays exact DECIMAL cents through the ranking.
  def rfm1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.events(s, dir).filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(max(unix_micros($"ts")).as("r"),
        count(lit(1)).as("f"), sum(Oracle.money($"value")).as("m"))
    def score(df: DataFrame, metric: String, out: String): DataFrame = {
      val ranked = graft.operators.GlobalRank.withRowNumber(
        df, Seq(col(metric), col("user_id")), rn = "__rn", nTotal = Some("__n"))
      ranked.withColumn(out,
        graft.operators.GlobalRank.ntileFromRank($"__rn", $"__n", 5))
        .drop("__rn", "__n")
    }
    val scored = score(score(score(p, "r", "r_score"), "f", "f_score"), "m", "m_score")
    scored
      .withColumn("segment",
        when($"r_score" >= 4 && $"f_score" >= 4, "loyal_high_value")
          .when($"r_score" <= 2 && $"f_score" >= 4, "at_risk")
          .when($"r_score" >= 4 && $"f_score" <= 2, "recent_light")
          .otherwise("regular"))
      .groupBy($"r_score", $"f_score", $"m_score", $"segment")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }
  val rfm1Sql: String =
    """WITH p AS (
      |  SELECT user_id, MAX(epoch_us(ts)) AS r, COUNT(*) AS f,
      |    SUM(CAST(value AS DECIMAL(12,2))) AS m
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |q AS (
      |  SELECT user_id,
      |    NTILE(5) OVER (ORDER BY r, user_id) AS r_score,
      |    NTILE(5) OVER (ORDER BY f, user_id) AS f_score,
      |    NTILE(5) OVER (ORDER BY m, user_id) AS m_score
      |  FROM p)
      |SELECT r_score, f_score, m_score,
      |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'loyal_high_value'
      |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
      |       WHEN r_score >= 4 AND f_score <= 2 THEN 'recent_light'
      |       ELSE 'regular' END AS segment,
      |  COUNT(*) AS n_users
      |FROM q GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3""".stripMargin

  // BF1: Bloom-filter membership sketch — the semi-join pruning primitive.
  // At 100 TB the canonical use is shipping a kilobyte-sized bit array of
  // the dimension side's keys to every fact-scan task so non-matching rows
  // die at the scan (Spark's own runtime row-group filtering works exactly
  // this way); here the filter is built as a first-class mergeable
  // aggregate: each member key explodes into k=3 (word, bit-mask) rows and
  // `bit_or` folds them into ≤ m/32 words — associative, commutative,
  // constant-size state, identical in both engines. Sizing is
  // data-adaptive (smallest power of two ≥ 32·n via an integer threshold
  // ladder, never floating log2), so the realized false-positive audit
  // holds at every SF instead of saturating when the corpus grows. Probes
  // are the member set (zero false negatives is a STRUCTURAL guarantee the
  // query asserts) plus a shifted-id non-member population for the
  // realized FP rate. Hash = the engine-neutral avalanche discipline from
  // hll1 (a bare LCG's lattice would stripe the bit positions), with the
  // first multiply pre-reduced mod 2^31 so no bigint product can overflow.
  def bf1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val members = Tables.events(s, dir)
      .filter($"event_type" === "purchase").select($"user_id").distinct()
    // smallest power of two >= 32*n, j in 9..30 (integer compares only)
    var mCase = when(lit(32L) * $"n" <= lit(512L), 512L)
    for (j <- 10 to 30)
      mCase = mCase.when(lit(32L) * $"n" <= lit(1L << j), 1L << j)
    val size = members.agg(count(lit(1)).as("n"))
      .withColumn("m_bits", mCase.otherwise(1L << 30)).select($"m_bits")
    // k=3 avalanched hashes -> bit position in [0, m_bits); the first
    // multiply is pre-reduced mod 2^31 so id*prime stays inside a long.
    def chain(p: String, a: Long, b: Long, c: Long)(d: DataFrame): DataFrame = d
      .withColumn(s"${p}0",
        (($"id" % lit(2147483648L)) * lit(a) + lit(b)) % lit(4294967296L))
      .withColumn(s"${p}1", expr(s"${p}0 ^ shiftright(${p}0, 16)"))
      .withColumn(s"${p}2", ($"${p}1" * lit(c)) % lit(4294967296L))
      .withColumn(p, expr(s"${p}2 ^ shiftright(${p}2, 13)") % $"m_bits")
    def withBits(df: DataFrame): DataFrame =
      chain("pc", 3266489917L, 98765L, 668265263L)(
        chain("pb", 2246822519L, 54321L, 179424673L)(
          chain("pa", 2654435761L, 12345L, 49632381L)(df)))
        .select($"id", $"is_member", explode(array($"pa", $"pb", $"pc")).as("p"))
        .withColumn("word", expr("p div 32"))
        .withColumn("mask", expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))"))
    val probes = members.select($"user_id".as("id"), lit(true).as("is_member"))
      .union(members.select(($"user_id" + lit(1000000007L)).as("id"),
        lit(false).as("is_member")))
    val pw = withBits(graft.core.ScalarSub.withScalars(probes, size))
    val filterWords = pw.filter($"is_member")
      .groupBy($"word").agg(expr("bit_or(mask)").as("bits"))
    val probed = pw
      .join(broadcast(filterWords), Seq("word"), "left")
      .groupBy($"id", $"is_member")
      .agg(sum(when($"bits".isNotNull &&
        ($"bits".bitwiseAND($"mask") === $"mask"), 1L).otherwise(0L)).as("hits"))
    probed.agg(
      count(lit(1)).as("n_probes"),
      sum(when($"is_member", 1L).otherwise(0L)).as("n_members"),
      sum(when($"is_member" && $"hits" < 3L, 1L).otherwise(0L)).as("false_negatives"),
      sum(when(!$"is_member" && $"hits" === 3L, 1L).otherwise(0L)).as("n_false_pos"),
      sum(when(!$"is_member", 1L).otherwise(0L)).as("n_nonmembers"))
      .transform(graft.core.ScalarSub.withScalars(_, size))
      .select($"m_bits", $"n_members", $"n_probes", $"false_negatives",
        $"n_false_pos",
        round($"n_false_pos".cast("double") / $"n_nonmembers", 9).as("fp_rate"),
        ($"n_false_pos".cast("double") / $"n_nonmembers" <= 0.01).as("fp_within_bound"))
  }
  val bf1Sql: String = {
    val ladder = (9 to 30)
      .map(j => s"WHEN 32 * n <= ${1L << j} THEN CAST(${1L << j} AS BIGINT)")
      .mkString(" ")
    s"""WITH members AS (
       |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
       |size AS (
       |  SELECT CASE $ladder ELSE CAST(${1L << 30} AS BIGINT) END AS m_bits
       |  FROM (SELECT COUNT(*) AS n FROM members)),
       |probes AS (
       |  SELECT user_id AS id, TRUE AS is_member FROM members
       |  UNION ALL
       |  SELECT user_id + 1000000007, FALSE FROM members),
       |h0 AS (
       |  SELECT id, is_member, m_bits,
       |    ((id %% 2147483648) * 2654435761 + 12345) %% 4294967296 AS a0,
       |    ((id %% 2147483648) * 2246822519 + 54321) %% 4294967296 AS b0,
       |    ((id %% 2147483648) * 3266489917 + 98765) %% 4294967296 AS c0
       |  FROM probes, size),
       |h2 AS (
       |  SELECT id, is_member, m_bits,
       |    (xor(a0, a0 >> 16) * 49632381) %% 4294967296 AS a2,
       |    (xor(b0, b0 >> 16) * 179424673) %% 4294967296 AS b2,
       |    (xor(c0, c0 >> 16) * 668265263) %% 4294967296 AS c2
       |  FROM h0),
       |pp AS (
       |  SELECT id, is_member,
       |    xor(a2, a2 >> 13) %% m_bits AS p1,
       |    xor(b2, b2 >> 13) %% m_bits AS p2,
       |    xor(c2, c2 >> 13) %% m_bits AS p3
       |  FROM h2),
       |pe AS (
       |  SELECT id, is_member, p1 AS p FROM pp
       |  UNION ALL SELECT id, is_member, p2 FROM pp
       |  UNION ALL SELECT id, is_member, p3 FROM pp),
       |pw AS (
       |  SELECT id, is_member, p // 32 AS word,
       |    CAST(1 AS BIGINT) << CAST(p %% 32 AS INT) AS mask
       |  FROM pe),
       |fw AS (SELECT word, bit_or(mask) AS bits FROM pw WHERE is_member GROUP BY 1),
       |probed AS (
       |  SELECT pw.id, pw.is_member,
       |    SUM(CASE WHEN fw.bits IS NOT NULL AND (fw.bits & pw.mask) = pw.mask
       |      THEN 1 ELSE 0 END) AS hits
       |  FROM pw LEFT JOIN fw USING (word) GROUP BY 1, 2),
       |agg AS (
       |  SELECT COUNT(*) AS n_probes,
       |    CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       |    CAST(SUM(CASE WHEN is_member AND hits < 3 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS false_negatives,
       |    CAST(SUM(CASE WHEN NOT is_member AND hits = 3 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_false_pos,
       |    CAST(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_nonmembers
       |  FROM probed)
       |SELECT m_bits, n_members, n_probes, false_negatives, n_false_pos,
       |  round(CAST(n_false_pos AS DOUBLE) / n_nonmembers, 9) AS fp_rate,
       |  (CAST(n_false_pos AS DOUBLE) / n_nonmembers <= 0.01) AS fp_within_bound
       |FROM agg, size""".stripMargin.replace("%%", "%")
  }

  // QSK1: mergeable equi-width histogram quantile sketch — approximate
  // p50/p90/p99 from a 32-bucket count vector next to the exact
  // percentiles. The sketch state is ≤ 32 longs per group and merges by
  // vector addition (the property that makes it a SKETCH: per-partition
  // histograms combine without re-touching rows, unlike the exact
  // percentile whose state is the whole value multiset) — at 100 TB the
  // exact columns here are the audit, not the plan. Estimates interpolate
  // linearly inside the crossing bucket; the realized |est − exact| is
  // reported against a 2-bucket-width bound, all arithmetic in identical
  // operand order so both engines derive the same flags. Bucket edges come
  // from a per-type (min, max) pass that broadcasts back — group-sized,
  // never a wide shuffle.
  def qsk1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .filter($"value".isNotNull).select($"event_type", $"value")
    val stats = ev.groupBy($"event_type").agg(
      min($"value").as("mn"), max($"value").as("mx"), count(lit(1)).as("n"),
      percentile($"value", lit(0.5)).as("ex50"),
      percentile($"value", lit(0.9)).as("ex90"),
      percentile($"value", lit(0.99)).as("ex99"))
      .withColumn("w", ($"mx" - $"mn") / lit(32.0))
    val counts = ev.join(broadcast(stats.select($"event_type", $"mn", $"w")), "event_type")
      .withColumn("b", least(lit(31L), floor(($"value" - $"mn") / $"w")))
      .groupBy($"event_type", $"b").agg(count(lit(1)).as("cnt"))
    val win = Window.partitionBy($"event_type").orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum($"cnt").over(win))
      .withColumn("cum_prev", $"cum" - $"cnt")
    // the three quantile targets as an exploded array literal — a 3-row
    // toDF side would plan a BroadcastNestedLoopJoin for no reason
    cum.join(broadcast(stats), "event_type")
      .withColumn("q", explode(array(lit(0.5), lit(0.9), lit(0.99))))
      .withColumn("target", $"q" * $"n")
      .filter($"cum" >= $"target" && $"cum_prev" < $"target")
      .withColumn("est",
        $"mn" + $"w" * ($"b" + ($"target" - $"cum_prev") / $"cnt"))
      .withColumn("exact", when($"q" === 0.5, $"ex50")
        .when($"q" === 0.9, $"ex90").otherwise($"ex99"))
      .select($"event_type", $"q", $"n",
        round($"est", 9).as("est"), round($"exact", 9).as("exact"),
        round(abs($"est" - $"exact"), 9).as("abs_err"),
        (abs($"est" - $"exact") <= lit(2.0) * $"w" + lit(1e-9)).as("within_sketch_bound"))
      .orderBy($"event_type", $"q")
  }
  val qsk1Sql: String =
    """WITH ev AS (
      |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |stats AS (
      |  SELECT event_type, MIN(value) AS mn, MAX(value) AS mx,
      |    COUNT(*) AS n,
      |    quantile_cont(value, 0.5) AS ex50,
      |    quantile_cont(value, 0.9) AS ex90,
      |    quantile_cont(value, 0.99) AS ex99,
      |    (MAX(value) - MIN(value)) / CAST(32 AS DOUBLE) AS w
      |  FROM ev GROUP BY 1),
      |counts AS (
      |  SELECT e.event_type,
      |    least(CAST(31 AS BIGINT), CAST(floor((e.value - s.mn) / s.w) AS BIGINT)) AS b,
      |    COUNT(*) AS cnt
      |  FROM ev e JOIN stats s USING (event_type) GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, b, cnt,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM counts),
      |qs AS (SELECT CAST(0.5 AS DOUBLE) AS q UNION ALL
      |       SELECT CAST(0.9 AS DOUBLE) UNION ALL SELECT CAST(0.99 AS DOUBLE)),
      |sel AS (
      |  SELECT c.event_type, q.q, s.n, c.b, c.cnt, c.cum - c.cnt AS cum_prev,
      |    c.cum, s.mn, s.w, s.ex50, s.ex90, s.ex99, q.q * s.n AS target
      |  FROM cum c JOIN stats s USING (event_type) CROSS JOIN qs q),
      |hit AS (
      |  SELECT *, mn + w * (b + (target - cum_prev) / cnt) AS est,
      |    CASE WHEN q = 0.5 THEN ex50 WHEN q = 0.9 THEN ex90 ELSE ex99 END AS exact
      |  FROM sel WHERE cum >= target AND cum_prev < target)
      |SELECT event_type, q, n, round(est, 9) AS est, round(exact, 9) AS exact,
      |  round(abs(est - exact), 9) AS abs_err,
      |  (abs(est - exact) <= 2.0 * w + 1e-9) AS within_sketch_bound
      |FROM hit ORDER BY event_type, q""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("bf1_bloom_membership", bf1, bf1Sql),
    Query("qsk1_quantile_sketch", qsk1, qsk1Sql),
    Query("rfm1_rfm_segmentation", rfm1, rfm1Sql),
    Query("hll1_hyperloglog", hll1, hll1Sql),
    Query("path1_user_journeys", path1, path1Sql),
    Query("gini1_activity_concentration", gini1, gini1Sql),
    Query("rb1_mad_outliers", rb1, rb1Sql),
    Query("cms1_countmin_freq", cms1, cms1Sql),
    Query("w10_winsorized_stats", w10, w10Sql),
    Query("im1_incremental_agg", im1, im1Sql),
    Query("scd1_scd2_intervals", scd1, scd1Sql),
    Query("gf1_gap_fill", gf1, gf1Sql),
    Query("zo1_zorder_locality", zo1, zo1Sql),
    Query("z1_event_anomaly", z1, z1Sql),
    Query("reg1_linear_trend", reg1, reg1Sql),
    Query("mk1_markov_transitions", mk1, mk1Sql),
    Query("seq1_skip_bigrams", seq1, seq1Sql),
    Query("blb1_little_bootstraps", blb1, blb1Sql),
    Query("mw1_mann_whitney", mw1, mw1Sql),
    Query("cuped1_variance_reduction", cuped1, cuped1Sql),
    Query("dp1_noisy_release", dp1, dp1Sql),
    Query("ac1_daily_autocorrelation", ac1, ac1Sql),
    Query("sax1_series_symbolization", sax1, sax1Sql),
    Query("hll2_sketch_rollup", hll2, hll2Sql),
    Query("ewma1_trend_smoothing", ewma1, ewma1Sql),
    Query("at1_attribution", at1, at1Sql),
    Query("au1_rolling_active_users", au1, au1Sql),
    Query("au2_rolling_sketch_mau", au2, au2Sql),
    Query("cp1_cusum_changepoint", cp1, cp1Sql),
    Query("th1_theta_sketch_ops", th1, th1Sql),
    Query("fc1_naive_backtest", fc1, fc1Sql),
    Query("ia1_interarrival_profile", ia1, ia1Sql),
    Query("w13_running_ltv", w13, w13Sql),
    Query("up1_user_profile", up1, up1Sql),
    Query("hm1_dow_hour_heatmap", hm1, hm1Sql),
    Query("ab1_ab_test_zscore", ab1, ab1Sql),
    Query("rt2_cohort_ltv", rt2, rt2Sql),
    Query("twa1_time_weighted", twa1, twa1Sql),
    Query("o1_ohlc_bars", o1, o1Sql),
    Query("fn1_funnel_steps", fn1, fn1Sql),
    Query("rt1_retention_cohorts", rt1, rt1Sql),
    Query("sk1_sketches", sketches, sketchesSql),
    Query("sk2_sketch_bounds", sk2, sk2Sql),
    Query("sm1_bottomk_sample", sm1, sm1Sql),
    Query("w9_percent_rank", w9, w9Sql),
    Query("ao3_asof_native", asofNative, asofSql),
    Query("ao2_asof_forward", asofForward, asofForwardSql),
    Query("x1_powerlaw_psd", x1, x1Sql),
    Query("st2_sliding_window", sliding, slidingSql),
    Query("a4_model_counts", a4, a4Sql),
    Query("a5_log_bayes_factors", a5, a5Sql),
    Query("a8_posterior_summary", a8, a8Sql),
    Query("w4_burnin_thinning", w4, w4Sql),
    Query("w3_earliest_split", w3, w3Sql),
    Query("a10_rms_stats", a10, a10Sql),
    Query("a11_weighted_mean", a11, a11Sql),
    Query("a12_equal_count_bins", a12, a12Sql),
    Query("a13_fixed_width_bins", a13, a13Sql),
    Query("a15_marginalised_stat", a15, a15Sql),
    Query("j8_hd_pair_correlation", j8, j8Sql),
    Query("j5_unpivot_long", j5, j5Sql),
    Query("a14_distinct_backends", a14, a14Sql),
    Query("e1_intersect_users", e1, e1Sql),
    Query("e5_except_pairs", e5, e5Sql),
    Query("f4_flag_selection", f4, f4Sql),
    Query("f10_regex_filter", f10, f10Sql),
    Query("w7_argmax_per_group", w7, w7Sql),
    Query("w_sessionize", sessionize, sessionizeSql),
    Query("st_tumbling_window", tumbling, tumblingSql),
  )
}
