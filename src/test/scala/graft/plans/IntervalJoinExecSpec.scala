package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.rng.Seed
import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.forAll

class IntervalJoinExecSpec extends SparkTestBase {

  private val Chunk = 8L // tiny: forces multi-chunk replicas + claim dedup

  private def mkL(rows: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("lid", "slo", "shi")
  }
  private def mkR(rows: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("rid", "plo", "phi")
  }

  /** Reference semantics: inequality join (nested-loop on tiny inputs —
    * fine for a spec, fatal at scale, which is the exec's reason to exist). */
  private def reference(l: DataFrame, r: DataFrame): Seq[(Long, Long)] = {
    import spark.implicits._
    l.join(r, col("slo") < col("phi") && col("plo") < col("shi"))
      .select($"lid", $"rid").as[(Long, Long)].collect().toSeq.sorted
  }

  private def native(l: DataFrame, r: DataFrame, w: Long = Chunk): Seq[(Long, Long)] = {
    import spark.implicits._
    NativeIntervalJoin.overlap(l, col("slo"), col("shi"),
        r, col("plo"), col("phi"), payload = Seq("rid"), chunkWidth = w)
      .select($"lid", $"rid").as[(Long, Long)].collect().toSeq.sorted
  }

  test("native sweep ≡ inequality-join reference on randomized intervals") {
    // dense small ranges: chunk-crossing intervals, exact-touch boundaries
    // (shi == plo must NOT match: half-open), duplicate los, nested spans
    val genSide = Gen.listOf(Gen.zip(Gen.choose(0L, 40L), Gen.choose(1L, 20L)))
      .map(_.zipWithIndex.map { case ((lo, len), i) => (i.toLong, lo, lo + len) })
    val prop = forAll(genSide, genSide) { (ls, rs) =>
      reference(mkL(ls), mkR(rs)) == native(mkL(ls), mkR(rs))
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(12).withInitialSeed(Seed(13L)))
    assert(res.passed, res.status.toString)
  }

  test("half-open boundaries: touching intervals do not overlap") {
    // L = [5, 10): R at [10, 12) touches (no match); [9, 10) overlaps;
    // [0, 5) touches below (no match); [4, 6) overlaps
    val l = mkL(Seq((1L, 5L, 10L)))
    val r = mkR(Seq((100L, 10L, 12L), (101L, 9L, 10L), (102L, 0L, 5L),
      (103L, 4L, 6L)))
    assert(native(l, r) === Seq((1L, 101L), (1L, 103L)))
  }

  test("pairs crossing many chunks emit exactly once") {
    // both intervals span several chunks and share several — the claim
    // rule (later lo's home chunk) must emit one pair only
    val l = mkL(Seq((1L, 2L, 50L)))
    val r = mkR(Seq((100L, 17L, 60L)))
    assert(native(l, r) === Seq((1L, 100L)))
    assert(native(r.toDF("lid", "slo", "shi"),
      l.toDF("rid", "plo", "phi")) === Seq((100L, 1L)))
  }

  test("empty intervals never match; empty sides -> empty") {
    val l = mkL(Seq((1L, 5L, 5L))) // empty [5,5)
    val r = mkR(Seq((100L, 0L, 10L)))
    assert(native(l, r) === Seq.empty)
    assert(native(mkL(Seq((1L, 0L, 10L))), mkR(Seq.empty)) === Seq.empty)
    assert(native(mkL(Seq.empty), mkR(Seq((100L, 0L, 10L)))) === Seq.empty)
  }

  test("identical timestamps on both sides (the pile-up case) stay exact") {
    // 5 identical left intervals × 4 identical right intervals = 20 pairs —
    // the shape that makes bucketed routes fan out; sweep must emit all 20
    val l = mkL((1L to 5L).map(i => (i, 10L, 20L)))
    val r = mkR((100L to 103L).map(i => (i, 15L, 25L)))
    assert(native(l, r).size === 20)
    assert(native(l, r) === reference(mkL((1L to 5L).map(i => (i, 10L, 20L))),
      mkR((100L to 103L).map(i => (i, 15L, 25L)))))
  }

  test("plan shape: IntervalJoin exec with exchanges, no nested loop") {
    val l = mkL(Seq((1L, 5L, 10L), (2L, 6L, 11L)))
    val r = mkR(Seq((100L, 6L, 8L)))
    val df = NativeIntervalJoin.overlap(l, col("slo"), col("shi"),
      r, col("plo"), col("phi"), payload = Seq("rid"), chunkWidth = Chunk)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("IntervalJoin "), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("self-join lineage (same frame on both sides) is re-aliased safely") {
    import spark.implicits._
    val base = mkL(Seq((1L, 0L, 10L), (2L, 5L, 15L), (3L, 20L, 30L)))
    val r = base.select($"lid".as("rid"), $"slo", $"shi")
    val got = NativeIntervalJoin.overlap(base, col("slo"), col("shi"),
        r, col("slo"), col("shi"), payload = Seq("rid"), chunkWidth = Chunk)
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    // each interval overlaps itself; [0, 10) and [5, 15) overlap each other
    assert(got === Set((1L, 1L), (2L, 2L), (3L, 3L), (1L, 2L), (2L, 1L)))
  }
}
