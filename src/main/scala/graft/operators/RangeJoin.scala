package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed point-in-interval range join.
  *
  * Spark's built-in strategy for `a.ts BETWEEN b.lo AND b.hi` is
  * BroadcastNestedLoopJoin (O(n·m), one side broadcast) — unusable when both
  * sides are fact-sized. This operator maps the classic bucketed range join
  * onto Catalyst primitives:
  *
  *  1. intervals explode into the fixed-width buckets they cover
  *     (`sequence(floor(lo/w), floor(hi/w))` — bounded by `span/w + 1`);
  *  2. points map to their single bucket;
  *  3. shuffle EQUIJOIN on the bucket key (hash-partitioned, AQE-skew-safe);
  *  4. exact interval predicate refines the candidates.
  *
  * Choose `bucketWidth` ≈ the typical interval span: expansion stays O(1)
  * per interval and each point meets only its own bucket's intervals.
  * Left-outer semantics keep interval rows with no matching points (the
  * refined predicate lands in the join condition, not a post-filter).
  */
object RangeJoin {

  /** floor(a / w) exact over the full long range: subtract the positive
    * modulus first (the remainder-free value divides exactly; `round` clears
    * the double-division ulps that a plain `floor(a/w)` accumulates for
    * ns-epoch magnitudes beyond 2^53). */
  private[graft] def floorDiv(a: Column, w: Long): Column =
    round((a - pmod(a, lit(w))) / lit(w)).cast("long")

  /** Join `points` (timestamp column `pts`) into `intervals` rows whose
    * `(lo, hi]` half-open interval contains the point. `lo`/`hi`/`pts` are
    * long epoch values. Inner join emits each (interval, point) pair exactly
    * once (a point matches only its own bucket). With `"left_outer"`,
    * intervals with no point in SOME covered bucket additionally emit a
    * null-point row — exact for aggregate consumers (`count(point_col)`
    * skips nulls); row-level consumers should deduplicate or post-filter. */
  def pointInInterval(intervals: DataFrame, lo: Column, hi: Column,
      points: DataFrame, pts: Column, bucketWidth: Long,
      joinType: String = "left_outer"): DataFrame = {
    val iv = intervals
      .withColumn("__lo", lo).withColumn("__hi", hi)
      .withColumn("__bk", explode(sequence(floorDiv(lo, bucketWidth),
        floorDiv(hi, bucketWidth))))
    val pt = points.withColumn("__pts", pts)
      .withColumn("__bk", floorDiv(pts, bucketWidth))
    iv.join(pt, iv("__bk") === pt("__bk") &&
        pt("__pts") > iv("__lo") && pt("__pts") <= iv("__hi"), joinType)
      .drop("__bk", "__lo", "__hi", "__pts")
  }
}
