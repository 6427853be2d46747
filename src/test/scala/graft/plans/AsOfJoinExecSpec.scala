package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.rng.Seed
import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.forAll

class AsOfJoinExecSpec extends SparkTestBase {

  private def mkDf(rows: Seq[(Long, Long, Long)], payload: Boolean): DataFrame = {
    import spark.implicits._
    if (payload) rows.toDF("user_id", "us", "pay_id")
    else rows.toDF("user_id", "us", "event_id")
  }

  /** The as-of definition, by brute force: per left row, the latest right
    * row of its key with `r.ts <= l.ts` (backward) or the earliest with
    * `r.ts >= l.ts` (forward). */
  private def bruteForce(ls: Seq[(Long, Long, Long)], rs: Seq[(Long, Long, Long)],
      fwd: Boolean): Set[(Long, Option[Long])] =
    ls.map { case (k, t, id) =>
      val cand = rs.filter(r => r._1 == k && (if (fwd) r._2 >= t else r._2 <= t))
      val pick = if (cand.isEmpty) None
        else Some(if (fwd) cand.minBy(_._2)._3 else cand.maxBy(_._2)._3)
      id -> pick
    }.toSet

  private def native(l: DataFrame, r: DataFrame, fwd: Boolean): Set[(Long, Option[Long])] = {
    import spark.implicits._
    val j = if (fwd) NativeAsOf.forward(l, r, "user_id", "us", Seq("pay_id"))
    else NativeAsOf.backward(l, r, "user_id", "us", Seq("pay_id"))
    j.select($"event_id", $"pay_id").as[(Long, Option[Long])].collect().toSet
  }

  private def matchesBruteForce(ls: Seq[(Long, Long, Long)],
      rs: Seq[(Long, Long, Long)]): Boolean = {
    val l = mkDf(ls, payload = false)
    val r = mkDf(rs, payload = true)
    Seq(false, true).forall(fwd => native(l, r, fwd) == bruteForce(ls, rs, fwd))
  }

  test("native exec ≡ brute-force as-of definition on randomized inputs") {
    // ts drawn from a small range so <=/>=/equality boundaries all occur;
    // DISTINCT (key, ts) per side — at ties any as-of join picks an
    // arbitrary winner, which is the documented as-of contract
    val genSide = Gen.listOf(Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 9L)))
      .map(_.distinct.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) })
    val prop = forAll(genSide, genSide)(matchesBruteForce)
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(12).withInitialSeed(Seed(42L)))
    assert(res.passed, res.status.toString)
  }

  test("random data matches the brute-force as-of definition (fwd + bwd)") {
    import spark.implicits._
    // wider ts range, fewer keys: long runs of left rows between matches
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 3) {
      val keys = 1L to 3L
      val lrows = Seq.fill(40)((keys(rnd.nextInt(3)), rnd.nextInt(100).toLong))
        .distinct.map { case (k, t) => (k, t, s"L$k-$t") }
      // distinct right ts per key: ties among right rows would make the
      // matched payload order-dependent in ANY as-of definition
      val rrows = Seq.fill(25)((keys(rnd.nextInt(3)), rnd.nextInt(100).toLong))
        .distinct.map { case (k, t) => (k, t, s"R$k-$t") }
      val left = lrows.toDF("k", "ts", "name")
      val right = rrows.toDF("k", "ts", "quote")

      def brute(fwd: Boolean): Map[(Long, Long), String] =
        lrows.map { case (k, t, _) =>
          val cand = rrows.filter(r => r._1 == k && (if (fwd) r._2 >= t else r._2 <= t))
          val pick = if (cand.isEmpty) null
            else if (fwd) cand.minBy(_._2)._3 else cand.maxBy(_._2)._3
          (k, t) -> pick
        }.toMap

      for (fwd <- Seq(false, true)) {
        val op = if (fwd) NativeAsOf.forward _ else NativeAsOf.backward _
        val got = op(left, right, "k", "ts", Seq("quote"))
          .select($"k", $"ts", $"quote").collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
        assert(got === brute(fwd), s"trial $trial fwd=$fwd")
      }
    }
  }

  test("backward as-of: latest right row at or before each left ts, per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "e1"), (1L, 25L, "e2"), (1L, 30L, "e3"), (2L, 15L, "e4"))
      .toDF("k", "ts", "name")
    val right = Seq(
      (1L, 5L, "q1"), (1L, 20L, "q2"), (1L, 30L, "q3"), (2L, 99L, "q4"))
      .toDF("k", "ts", "quote")
    val got = NativeAsOf.backward(left, right, "k", "ts", Seq("quote"))
      .orderBy($"k", $"ts").select($"name", $"quote").collect()
      .map(r => (r.getString(0), Option(r.getString(1)).orNull))
    assert(got.toSeq === Seq(
      ("e1", "q1"),  // 10 >= 5
      ("e2", "q2"),  // 25 >= 20
      ("e3", "q3"),  // inclusive: 30 >= 30
      ("e4", null))) // no quote at/before 15 for k=2
  }

  test("a null payload in the matched right row stays null (both directions)") {
    import spark.implicits._
    // the matched row is (ts=5, a=null, b=201) for event 1 backward and for
    // event 2 forward; filling `a` from another right row would mix rows
    val left = Seq((1L, 6L, 1L), (1L, 3L, 2L)).toDF("k", "ts", "id")
    val right = Seq((1L, 1L, Some(100L), 200L), (1L, 5L, None, 201L),
      (1L, 8L, Some(300L), 202L)).toDF("k", "ts", "a", "b")
    def run(fwd: Boolean): Map[Long, (Option[Long], Long)] = {
      val j = if (fwd) NativeAsOf.forward(left, right, "k", "ts", Seq("a", "b"))
      else NativeAsOf.backward(left, right, "k", "ts", Seq("a", "b"))
      j.select($"id", $"a", $"b").as[(Long, Option[Long], Long)].collect()
        .map { case (id, a, b) => id -> (a, b) }.toMap
    }
    assert(run(fwd = false) === Map(1L -> (None, 201L), 2L -> (Some(100L), 200L)))
    assert(run(fwd = true) === Map(1L -> (Some(300L), 202L), 2L -> (None, 201L)))
  }

  /** The message of the IllegalArgumentException `body` throws. */
  private def rejection(body: => Any): String =
    intercept[IllegalArgumentException](body).getMessage

  test("payload name collision is rejected") {
    import spark.implicits._
    val df = Seq((1L, 1L, "a")).toDF("k", "ts", "quote")
    val iv = Seq((1L, 0L, 5L)).toDF("id", "lo", "hi")
    val entries: Seq[(String, () => DataFrame)] = Seq(
      "as-of" -> (() => NativeAsOf.backward(df, df, "k", "ts", Seq("quote"))),
      "band" -> (() => NativeBandJoin.after(df, df, "k", "ts", Seq("quote"), 5L)),
      "interval" -> (() => NativeIntervalJoin.overlap(iv, col("lo"), col("hi"),
        iv, col("lo"), col("hi"), Seq("id"), 8L)))
    for ((entry, join) <- entries)
      assert(rejection(join()).contains("collide"), entry)
  }

  test("a non-Long join column or an unknown column name is rejected") {
    import spark.implicits._
    val df = Seq((1L, 1L, "a")).toDF("k", "ts", "quote")
    val strKey = Seq(("1", 1L, 7L)).toDF("k", "ts", "id")
    val intTs = Seq((1L, 1, 7L)).toDF("k", "ts", "id")
    val iv = Seq((1L, 0L, 5L)).toDF("id", "lo", "hi")
    // (entry, join, a fragment of the rejection); the LongType contract is
    // checked when the exec is planned
    val cases: Seq[(String, () => Any, String)] = Seq(
      ("as-of, String key", () => NativeAsOf.backward(strKey, df, "k", "ts", Seq("quote"))
        .queryExecution.executedPlan, "LongType"),
      ("band, Int ts", () => NativeBandJoin.after(intTs, df, "k", "ts", Seq("quote"), 5L)
        .queryExecution.executedPlan, "LongType"),
      ("as-of, unknown key", () => NativeAsOf.forward(df, strKey, "user", "ts", Seq("id")),
        "column user not found on left side"),
      ("band, unknown payload", () => NativeBandJoin.after(df, intTs, "k", "ts", Seq("pay"), 5L),
        "column pay not found on right side"),
      ("interval, unknown payload", () => NativeIntervalJoin.overlap(iv, col("lo"), col("hi"),
        iv.select($"id".as("rid"), $"lo", $"hi"), col("lo"), col("hi"), Seq("pay"), 8L),
        "column pay not found on right side"))
    for ((entry, join, fragment) <- cases) {
      val msg = rejection(join())
      assert(msg.contains(fragment), s"$entry: $msg")
    }
  }

  test("empty right side -> all-null payload; empty left -> empty result") {
    val l = mkDf(Seq((1L, 5L, 100L)), payload = false)
    val r = mkDf(Seq.empty, payload = true)
    assert(native(l, r, fwd = false) === Set((100L, None)))
    assert(native(r.toDF("user_id", "us", "event_id"), l.toDF("user_id", "us", "pay_id"),
      fwd = false) === Set.empty)
  }

  test("plan shape: exchanges + sorts inserted by EnsureRequirements, no window") {
    import spark.implicits._
    val l = mkDf(Seq((1L, 5L, 100L), (2L, 6L, 101L)), payload = false)
    val r = mkDf(Seq((1L, 4L, 200L)), payload = true)
    val p = NativeAsOf.backward(l, r, "user_id", "us", Seq("pay_id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin "), p) // nodeName renders without the Exec suffix
    assert(!p.toLowerCase.contains("window"), p)
    assert("hashpartitioning\\(user_id".r.findAllIn(p.toLowerCase).size >= 2, p)
    assert(p.toLowerCase.contains("sort"), p)
  }

  test("self-join lineage (same memoized table on both sides) is re-aliased safely") {
    import spark.implicits._
    val base = Seq((1L, 1L, 10L), (1L, 5L, 11L), (1L, 3L, 12L))
      .toDF("user_id", "us", "event_id")
    val l = base
    val r = base.select($"user_id", $"us", $"event_id".as("pay_id"))
    val got = NativeAsOf.backward(l, r, "user_id", "us", Seq("pay_id"))
      .select($"event_id", $"pay_id").as[(Long, Long)].collect().toSet
    // each row matches ITSELF (r.us <= l.us, latest) under shared lineage
    assert(got === Set((10L, 10L), (11L, 11L), (12L, 12L)))
  }
}
