package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Query, Tables}

/** Time-series shaping over the `events` table: per-key calendar
  * densification with last-observation-carried-forward (vs gf1's fixed
  * global grid + as-of join — here the calendar itself is derived, per
  * key, and gap rows are flagged).
  *
  * Every window is PARTITIONED (by `user_id`), so at 100 TB each user's
  * series sorts inside its own task after one hash shuffle — no global
  * sort, no single-partition window. The calendar explode is bounded by
  * the observed day span per user, not by a global dense range.
  *
  * Exactness: gap-fill moves values by comparison only (MAX / carry) —
  * no float arithmetic anywhere, so it hash-matches DuckDB bit-for-bit.
  * The oracle's constant calendar (2023–2025) relies on TESTDATA.md
  * events all falling in 2024-01; DuckDB's `generate_series` accepts
  * only constant bounds.
  */
object Temporal extends graft.core.QueryModule {

  /** ts1: daily purchase series per user, missing days materialized from a
    * per-user calendar (`sequence` + explode) and filled by
    * last-observation-carried-forward. LOCF without IGNORE NULLS (not
    * portable bit-for-bit): cumulative count of non-null observations
    * assigns each gap row the segment of its most recent observation, and
    * the segment's single non-null MAX is the carried value — two
    * partitioned window passes, gaps-and-islands style.
    */
  def ts1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .filter($"user_id" < 20 && $"event_type" === "purchase")
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(max($"value").as("value"))
    val cal = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
    val wSeg = Window.partitionBy($"user_id").orderBy($"day")
    val wFill = Window.partitionBy($"user_id", $"grp")
    cal.join(daily, Seq("user_id", "day"), "left")
      .withColumn("grp", count($"value").over(wSeg))
      .select($"user_id", date_format($"day", "yyyy-MM-dd").as("day"),
        max($"value").over(wFill).as("filled"),
        $"value".isNull.as("is_gap"))
      .orderBy($"user_id", $"day")
  }

  val ts1Sql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, MAX(value) AS value
      |  FROM events WHERE user_id < 20 AND event_type = 'purchase'
      |  GROUP BY 1, 2),
      |cal AS (
      |  SELECT s.user_id, d.day
      |  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
      |        FROM daily GROUP BY 1) s
      |  JOIN (SELECT CAST(g.gs AS DATE) AS day
      |        FROM generate_series(TIMESTAMP '2023-01-01',
      |                             TIMESTAMP '2025-12-31',
      |                             INTERVAL 1 DAY) g(gs)) d
      |    ON d.day BETWEEN s.d0 AND s.d1),
      |j AS (
      |  SELECT c.user_id, c.day, d.value,
      |    COUNT(d.value) OVER (PARTITION BY c.user_id ORDER BY c.day) AS grp
      |  FROM cal c LEFT JOIN daily d
      |    ON c.user_id = d.user_id AND c.day = d.day)
      |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
      |  MAX(value) OVER (PARTITION BY user_id, grp) AS filled,
      |  value IS NULL AS is_gap
      |FROM j ORDER BY user_id, day""".stripMargin

  /** ol1: peak session concurrency per day by sweep line — sessions
    * (w_sessionize's 30-min-gap definition) become ±1 boundary events,
    * and the running sum over all boundaries ordered by time IS the live
    * session count. The global running sum is the classic single-partition
    * window trap; [[graft.operators.GlobalRank.withPrefixSum]] computes it
    * as one range shuffle + a per-partition-sums metadata job instead, so
    * the sweep stays distributed at any scale (boundary rows = 2×sessions,
    * far smaller than events). Sort (us, delta DESC, user_id, sess) is a
    * total order with starts (+1) before ends (-1) at the same µs —
    * intervals closed at both ends, so a single-event session still
    * counts as 1 live session and the count never goes negative. Integer
    * arithmetic only: hash-exact.
    */
  def ol1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wEv = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val sess = Tables.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
      .withColumn("prev", lag($"us", 1).over(wEv))
      .withColumn("new_sess",
        when($"prev".isNull || $"us" - $"prev" > 1800000000L, 1L).otherwise(0L))
      .withColumn("sess", sum($"new_sess").over(wEv))
      .groupBy($"user_id", $"sess")
      .agg(min($"us").as("s0"), max($"us").as("s1"))
    val bounds = sess.select($"user_id", $"sess", $"s0".as("us"), lit(1L).as("delta"))
      .union(sess.select($"user_id", $"sess", $"s1".as("us"), lit(-1L).as("delta")))
    graft.operators.GlobalRank
      .withPrefixSum(bounds, Seq($"us", $"delta".desc, $"user_id", $"sess"),
        $"delta", "conc")
      .groupBy(date_format(timestamp_micros($"us"), "yyyy-MM-dd").as("day"))
      .agg(max($"conc").as("max_concurrent"), count(lit(1)).as("n_boundaries"))
      .orderBy($"day")
  }

  val ol1Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |m AS (SELECT *, LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      |      FROM e),
      |f AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
      |                THEN 1 ELSE 0 END AS new_sess FROM m),
      |g AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |                     AS BIGINT) AS sess FROM f),
      |iv AS (SELECT user_id, sess, MIN(us) AS s0, MAX(us) AS s1
      |       FROM g GROUP BY 1, 2),
      |b AS (SELECT user_id, sess, s0 AS us, CAST(1 AS BIGINT) AS delta FROM iv
      |      UNION ALL
      |      SELECT user_id, sess, s1 AS us, CAST(-1 AS BIGINT) AS delta FROM iv),
      |c AS (SELECT *, CAST(SUM(delta) OVER (ORDER BY us, delta DESC, user_id, sess
      |                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
      |      FROM b)
      |SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day,
      |  MAX(conc) AS max_concurrent, COUNT(*) AS n_boundaries
      |FROM c GROUP BY 1 ORDER BY day""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("ts1_gapfill_locf", ts1, ts1Sql),
    Query("ol1_max_concurrency", ol1, ol1Sql),
  )
}
