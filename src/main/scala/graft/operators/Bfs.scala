package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search levels by iterative frontier
  * expansion — the traversal primitive behind reachability audits
  * ("which documents are within k hops of a trusted seed set") and
  * influence/propagation readouts. Complements the fixpoint family
  * ([[ConnectedComponents]], [[PageRank]], label propagation): BFS is
  * depth-BOUNDED, so the round count is the query parameter, not a
  * convergence property.
  *
  * Each round is one hash-shuffle equijoin of the (materialized-once)
  * edge set against the current frontier plus one left-anti join against
  * the visited set — never anything quadratic, no driver-side graph. Each
  * LEVEL is localCheckpoint'ed once (iterative joins otherwise stack
  * lineage linearly in depth — the [[ConnectedComponents.run]]
  * discipline); the visited set is a plain UNION over those level
  * checkpoints, so no round pays a copy job for it and the live blocks
  * are exactly the result. An empty frontier short-circuits remaining
  * rounds (one O(1) isEmpty job on a checkpointed, frontier-sized frame
  * per round).
  *
  * (A fully LAZY unrolled variant — the chained-CTE shape a SQL engine
  * runs, relying on AQE stage dedup instead of checkpoints — was measured
  * at depth 3 / sf0.1 and LOST, 2.8 s vs 1.9 s: the level anti-joins are
  * broadcast joins, which put no exchange at a level's plan top, so every
  * later reference re-executes the broadcast subtree; the per-round
  * checkpoint jobs it saves were never the cost. Kept out deliberately.)
  */
object Bfs {

  /** BFS levels over the DIRECTED edge set `edges` (long columns `a` → `b`;
    * callers symmetrize for undirected graphs) from the `sources` node set
    * (long column `v`). Returns (v, level) with level = hop distance
    * (0 for sources), covering exactly the nodes reachable within
    * `maxDepth` hops.
    */
  def levels(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0)
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    var visited = sources.select(col("v")).distinct()
      .withColumn("level", lit(0)).localCheckpoint()
    var frontier = visited.select(col("v"))
    // `visited` is a UNION over the per-level checkpoints, never
    // re-checkpointed: each level's blocks are materialized exactly once
    // and the union plan just reads them, so (a) no per-round copy job for
    // the visited set, and (b) nothing is duplicated in storage — the live
    // blocks ARE the result. Depth is the (small) query parameter, so the
    // union width is bounded. Superseded-block hygiene: only an
    // empty-frontier `next` is garbage (freed immediately); every other
    // checkpoint backs the returned frame.
    var d = 1
    var done = maxDepth == 0
    while (!done) {
      val next = e.join(frontier.withColumnRenamed("v", "a"), "a")
        .select(col("b").as("v")).distinct()
        .join(visited, Seq("v"), "left_anti")
        .withColumn("level", lit(d))
        .localCheckpoint()
      // the final round skips its isEmpty probe: the loop ends either way,
      // and unioning an empty last level changes nothing
      if (d < maxDepth && next.isEmpty) { free(next); done = true }
      else {
        visited = visited.union(next)
        frontier = next.select(col("v"))
        d += 1
        if (d > maxDepth) done = true
      }
    }
    // the edge checkpoint is not part of the returned plan
    free(e)
    visited
  }

  /** BFS levels over a BIPARTITE graph — directed edges `a` (left side) →
    * `b` (right side), every source on the LEFT side. On a bipartite graph
    * frontier parity IS the side: odd levels live on the right, even levels
    * on the left. That buys exactly a 2× on the generic path's two big
    * costs with zero loss of completeness:
    *
    *  - the edge set is materialized and probed DIRECTED — odd rounds join
    *    on `a`, even rounds on `b` — so there is no symmetrized (doubled)
    *    edge checkpoint and each round scans half the generic path's rows;
    *  - a new node can only have been visited at an earlier SAME-parity
    *    level (shortest-path levels of the other side can never collide),
    *    so each anti-join runs against the same-side union only.
    *
    * The two sides' id spaces may overlap (user ids vs item ids): a row of
    * the result is keyed by (side-implied-by-level-parity, v), exactly as
    * in the user–item graphs this is meant for. Callers needing globally
    * unique ids disambiguate before the call (as bfs1 does with 2k / 2k+1).
    * Same checkpoint/short-circuit discipline as [[levels]].
    *
    * The edge checkpoint is NOT pre-partitioned on the probe key, and the
    * frontier carries no SHUFFLE_HASH hint: AQE broadcasts the tiny
    * frontier every round, so the edge side never shuffles anyway. Both
    * were measured (SCALING.md "r10 decision probes", bfs row): the
    * pre-partitioned checkpoint was a wash at sf0.1 and a loss at sf1
    * (3.62 → 4.52 s); the hint, which blocks the broadcast conversion,
    * lost at sf0.1 (1.36 → 1.75 s).
    */
  def levelsBipartite(edges: DataFrame, sources: DataFrame,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 0)
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    var visitedLeft = sources.select(col("v")).distinct()
      .withColumn("level", lit(0)).localCheckpoint()
    var visitedRight: DataFrame = null
    var frontier = visitedLeft.select(col("v"))
    var d = 1
    var done = maxDepth == 0
    while (!done) {
      val fromLeft = d % 2 == 1
      def f(key: String) = frontier.withColumnRenamed("v", key)
      val expanded =
        if (fromLeft) e.join(f("a"), "a").select(col("b").as("v"))
        else e.join(f("b"), "b").select(col("a").as("v"))
      val sameSide = if (fromLeft) visitedRight else visitedLeft
      val fresh = expanded.distinct()
      val next = (if (sameSide == null) fresh
                  else fresh.join(sameSide, Seq("v"), "left_anti"))
        .withColumn("level", lit(d))
        .localCheckpoint()
      if (d < maxDepth && next.isEmpty) { free(next); done = true }
      else {
        if (fromLeft)
          visitedRight = if (visitedRight == null) next
                         else visitedRight.union(next)
        else visitedLeft = visitedLeft.union(next)
        frontier = next.select(col("v"))
        d += 1
        if (d > maxDepth) done = true
      }
    }
    free(e)
    if (visitedRight == null) visitedLeft else visitedLeft.union(visitedRight)
  }

  private def free(df: DataFrame): Unit =
    if (df != null) org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(df)
}
