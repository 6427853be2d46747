package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class RangeJoinSpec extends SparkTestBase {

  private def intervals = {
    import spark.implicits._
    Seq((1L, 100L, 250L), (2L, 300L, 300L), (3L, 900L, 1500L), (4L, 5000L, 5400L))
      .toDF("iid", "lo", "hi")
  }

  private def points = {
    import spark.implicits._
    (0L to 60L).map(i => (i, i * 25L)).toDF("pid", "pts")
  }

  test("inner join equals the naive theta join, one row per pair") {
    import spark.implicits._
    val got = RangeJoin.pointInInterval(intervals, col("lo"), col("hi"),
        points, col("pts"), bucketWidth = 200L, joinType = "inner")
      .select($"iid", $"pid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = intervals.as("i").join(points.as("p"),
        col("p.pts") > col("i.lo") && col("p.pts") <= col("i.hi"))
      .select($"iid", $"pid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got === want)
    assert(got.distinct.length === got.length)
  }

  test("left outer keeps empty intervals; count(points) is exact") {
    import spark.implicits._
    val counts = RangeJoin.pointInInterval(intervals, col("lo"), col("hi"),
        points, col("pts"), bucketWidth = 200L)
      .groupBy($"iid").agg(count($"pid").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // (100,250]: 125..250 step 25 → 6; (300,300]: none; (900,1500]: 925..1500
    // → 24; (5000,5400]: beyond max point 1500 → 0 (kept with count 0)
    assert(counts === Map(1L -> 6L, 2L -> 0L, 3L -> 24L, 4L -> 0L))
  }

  test("bucket width far smaller than spans still exact") {
    import spark.implicits._
    val got = RangeJoin.pointInInterval(intervals, col("lo"), col("hi"),
        points, col("pts"), bucketWidth = 7L, joinType = "inner")
      .select($"iid", $"pid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = intervals.as("i").join(points.as("p"),
        col("p.pts") > col("i.lo") && col("p.pts") <= col("i.hi"))
      .select($"iid", $"pid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got === want)
  }

  test("ns-epoch magnitudes: bucket arithmetic stays exact beyond 2^53") {
    import spark.implicits._
    val base = 1700000000000000000L // ~1.7e18 (ns epoch)
    val iv = Seq((1L, base, base + 3600000000000L)).toDF("iid", "lo", "hi")
    val pts = Seq((10L, base + 1L), (11L, base + 3600000000000L),
      (12L, base + 3600000000001L)).toDF("pid", "pts")
    val got = RangeJoin.pointInInterval(iv, col("lo"), col("hi"), pts, col("pts"),
        bucketWidth = 3600000000000L, joinType = "inner")
      .select($"pid").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(10L, 11L))
  }

  test("random intervals/points match the naive theta join at odd bucket widths") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    for (width <- Seq(3L, 17L, 1000L)) {
      val iv = Seq.tabulate(30) { i =>
        val lo = rnd.nextInt(500).toLong
        (i.toLong, lo, lo + rnd.nextInt(120).toLong)
      }.toDF("iid", "lo", "hi")
      val pts = Seq.tabulate(80)(i => (i.toLong, rnd.nextInt(700).toLong))
        .toDF("pid", "pts")
      val got = RangeJoin.pointInInterval(iv, col("lo"), col("hi"),
          pts, col("pts"), bucketWidth = width, joinType = "inner")
        .select($"iid", $"pid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val want = iv.as("i").join(pts.as("p"),
          col("p.pts") > col("i.lo") && col("p.pts") <= col("i.hi"))
        .select($"iid", $"pid").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got === want, s"width=$width")
    }
  }
}
