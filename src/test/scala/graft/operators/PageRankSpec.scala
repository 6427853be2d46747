package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class PageRankSpec extends SparkTestBase {

  /** Reference fixed-point PageRank on a driver-side adjacency map,
    * following the exact integer spec of [[PageRank.run]]. */
  private def referenceRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = (edges ++ edges.map(e => (e._2, e._1))).distinct
    val adj = sym.groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val deg = adj.map { case (v, ns) => v -> ns.size.toLong }
    val n = adj.size.toLong
    val base = (15L * (PageRank.Scale / n)) / 100L
    var r = adj.keys.map(v => v -> PageRank.Scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = r.map { case (v, rv) => v -> rv / deg(v) }
      r = adj.keys.map { v =>
        val in = sym.collect { case (u, d) if d == v => contrib(u) }.sum
        v -> (base + (85L * in) / 100L)
      }.toMap
    }
    r
  }

  test("3-iteration ranks match the driver-side fixed-point reference") {
    import spark.implicits._
    // a hub (0) with spokes, a triangle, and a bridge between them
    val edges = Seq[(Long, Long)](
      (0, 1), (0, 2), (0, 3), (0, 4), (5, 6), (6, 7), (7, 5), (4, 5))
    val got = PageRank.run(edges.toDF("a", "b"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === referenceRanks(edges, 3))
  }

  test("total mass stays within truncation loss of the scale") {
    import spark.implicits._
    val edges = (1L to 40L).map(i => (i, (i * 17) % 41)).filter(e => e._1 != e._2)
    val ranks = PageRank.run(edges.toDF("a", "b"), iters = 4)
    val total = ranks.agg(sum($"rank")).head.getLong(0)
    val n = ranks.count()
    // each node's update truncates < 1 unit per div, 3 divs per iter
    assert(total <= PageRank.Scale)
    assert(total >= PageRank.Scale - 4 * 3 * n - n)
  }

  test("hub node outranks leaf nodes") {
    import spark.implicits._
    val edges = Seq[(Long, Long)]((0, 1), (0, 2), (0, 3), (0, 4), (0, 5))
    val r = PageRank.run(edges.toDF("a", "b"), iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) > r(1L))
    assert((1L to 5L).map(r).distinct.size === 1) // symmetric leaves tie exactly
  }

  test("above PinMinEdgeRows: regular components match their degree's recurrence") {
    // a 1,000,000-node cycle (degree 2) beside a 500,000-node circulant
    // C(1, 2) (degree 4): 2·1M + 4·500k = 4M symmetric edge rows, so the
    // pinned arm runs. Every node of a d-regular component has the same
    // rank, so each component's exact rank is a scalar recurrence.
    val (n1, n2) = (1000000L, 500000L)
    assert(2 * n1 + 4 * n2 >= PageRank.PinMinEdgeRows)
    val cycle = spark.range(0L, n1).select(col("id").as("a"), ((col("id") + 1) % n1).as("b"))
    def circ(step: Long) = spark.range(0L, n2)
      .select((col("id") + n1).as("a"), ((col("id") + step) % n2 + n1).as("b"))
    val iters = 3
    val t0 = System.nanoTime()
    val ranks = PageRank.run(cycle.union(circ(1)).union(circ(2)), iters)
    val got = ranks.groupBy(col("v") < n1)
      .agg(count(lit(1)), min(col("rank")), max(col("rank")))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val n = n1 + n2
    val base = (15L * (PageRank.Scale / n)) / 100L
    def rank(d: Long): Long =
      (1 to iters).foldLeft(PageRank.Scale / n)((r, _) => base + (85L * (d * (r / d))) / 100L)
    assert(got === Map(true -> ((n1, rank(2), rank(2))), false -> ((n2, rank(4), rank(4)))))
    // the pin held: no iteration join re-exchanges the edge side (key b)
    val sides = joinSideExchanges(ranks, "b")
    assert(sides.size == iters - 1 && sides.forall(_._1 == 0), sides)
    info(f"wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
