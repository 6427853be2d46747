package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank in fixed-point (integer-scaled) arithmetic.
  *
  * Ranks are carried as long "micro-rank" units (1e12 = total mass 1.0) and
  * every step is integer division / integer sums, so the result is exact and
  * **order-independent**: the same bits fall out of any engine regardless of
  * partitioning or summation order — which is what lets a Spark run
  * hash-match a DuckDB oracle (and two cluster runs match each other).
  * Floating-point PageRank can't make that promise: `SUM(double)` is
  * non-associative, so per-partition order changes low bits every run.
  *
  * Per iteration, for the undirected graph given by `edges(a, b)`:
  * {{{
  *   contrib(u)  = r(u) div deg(u)                    -- exact long division
  *   r'(v)       = (15 * (S div n)) div 100
  *               + (85 * SUM(contrib(u) for u adjacent to v)) div 100
  * }}}
  * which is standard damping-0.85 PageRank up to sub-µrank truncation (each
  * div discards < 1 unit = 1e-12 of mass; mass is not exactly conserved,
  * exactly as specified — the oracle follows the same spec).
  *
  * Scale shape: one `groupBy(node)` degree aggregation up front, then one
  * shuffle-hash join + one aggregation per iteration, all keyed on node id —
  * never quadratic, no driver-side graph. Like [[ConnectedComponents.run]],
  * ranks are localCheckpoint'ed every 4 iterations so lineage/plan depth
  * stays O(1) in iteration count — but NOT every iteration: a checkpoint
  * is an eager job, and for short chains the un-materialized plan
  * (executed once by the final action) is cheaper.
  *
  * The reference has no graph operator; this is north-star widening (the
  * dedup→cluster→rank chain a curation pipeline uses to pick canonical
  * documents, and plain graph analytics over entity edges).
  */
object PageRank {

  val Scale = 1000000000000L // 1e12 µrank units = total mass 1.0

  /** Edge-row threshold for the pinned-partitioning upgrade in [[run]]: the
    * dial IS the measured crossover (SCALING.md "r11 decision probes", pr1
    * row; interleaved, local[32], ranks asserted bit-identical): at sf0.1
    * (1.17M symmetric rows) pinning LOSES 0.609 → 0.804 s — un-coalesced
    * 32-partition stages cost more task floor than the cheap per-round
    * re-exchange of a small edge table — while at sf1 (11.7M rows) it WINS
    * 2.173 → 1.654 s. 4M splits the probe points; above it the per-round
    * exchange is the dominant term and only grows. */
  val PinMinEdgeRows: Long = 4000000L

  /** Ranks after `iters` damped iterations over the undirected graph
    * `edges(a, b)`. Returns (v LONG, rank LONG) in µrank units; every node
    * appearing in any edge is present (degree ≥ 1 after symmetrisation, so
    * there are no dangling nodes by construction).
    *
    * Pinned build partitioning (r11): when the materialized edge table
    * reaches [[PinMinEdgeRows]], it is re-shuffled ONCE onto an EXPLICIT
    * partition count and that partitioning is kept on the checkpoint
    * (GraftSqlBridge.pinnedCheckpoint — under AQE a bare
    * localCheckpoint comes back UnknownPartitioning, so the per-iteration
    * rank joins would re-exchange the full edge checkpoint on `b` EVERY
    * round). With the pin, each round only exchanges the node-sized rank
    * table. Below the threshold the bare coalesced build runs; the
    * decision piggybacks on the node-count aggregation the build already
    * pays. Plans and numbers: OPTIMIZATION_r11.md §1.
    *
    * The symmetrisation dedup runs exchange-free on the build's
    * repartition(b) clustering, so callers should pass raw duplicated
    * edges as-is rather than pay their own upstream distinct exchange
    * (SCALING.md "r10 decision probes", pr1 build row). */
  def run(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val doubled = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
    // Edges annotated ONCE with the CONTRIBUTOR-side degree: in the
    // symmetric edge set, grouping by `a` over contributors `b` visits
    // exactly the same (receiver, contributor) multiset as grouping by `b`
    // over `a` — so each iteration needs only rank(b), and contrib
    // rank(b) div deg_b is computed at join time from the edge column.
    // The ranks table is therefore bare (v, rank): no deg re-attach join,
    // no node table (and broadcasting deg instead would cap the node
    // count at broadcast size — not a 100 TB posture). (A window count
    // over b was tried instead of the degree join: the per-partition sort
    // made it ~3× slower than hash join + hash agg.)
    //
    // Build geometry (r10, the lp1/kc1 single-exchange construction;
    // OPTIMIZATION_r10.md §2): ONE edge-wide
    // repartition on the per-iteration join key `b` feeds EVERYTHING —
    // hash partitioning on b satisfies the (a, b) dedup clustering, the
    // degree aggregation's b grouping, and the degree join-back, so all
    // three run exchange-free on top of it and the checkpoint inherits
    // the partitioning (LogicalRDD keeps it, so no iteration re-shuffles
    // the edge list either). The r9 shape paid deg's a-side exchange, the
    // join's two b-side exchanges, and a redundant repartition after a
    // join already keyed on b.
    val sym = doubled.repartition(col("b")).distinct()
    val degB = sym.groupBy(col("b")).agg(count(lit(1)).as("deg_b"))
    val symDeg0 = sym.join(degB.hint("shuffle_hash"), "b")
      .select(col("a"), col("b"), col("deg_b"))
    val symDeg0Ck = symDeg0.localCheckpoint()
    // map-side-combined distinct over the materialized edges; an O(1)
    // driver scalar (the old node-table distinct shuffled (v, deg) pairs).
    // The edge-row count rides the same aggregation for free — it is the
    // pinned-partitioning dial below.
    val statsRow = symDeg0Ck
      .agg(countDistinct(col("b")), count(lit(1))).head()
    val n = statsRow.getLong(0)
    val edgeRows = statsRow.getLong(1)
    // Past the measured crossover, pay ONE re-shuffle onto an explicit
    // partition count and keep it on the checkpoint (AQE returns
    // checkpoints as UnknownPartitioning — without the pin every
    // iteration join re-exchanged the edge table; see scaladoc). Below
    // it, the r10 bare coalesced checkpoint is strictly cheaper.
    val symDeg =
      if (edgeRows >= PinMinEdgeRows) {
        val p = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        val c = org.apache.spark.sql.GraftSqlBridge.pinnedCheckpoint(symDeg0Ck, Seq("b"), p)
        org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(symDeg0Ck)
        c
      } else symDeg0Ck
    val base = (15L * (Scale / n)) / 100L
    // Iteration 1 joins nothing: the uniform initial rank is a constant,
    // so the first round is a single aggregation over the edges.
    var ranks: DataFrame = symDeg
      .groupBy(col("a").as("v"))
      .agg(expr(s"$base + (85 * sum(${Scale / n} div deg_b)) div 100").as("rank"))
    var it = 1
    // interior checkpoints only: the FINAL ranks plan still reads symDeg
    // and the last checkpoint, so those stay live for the caller; every
    // superseded interior checkpoint is released the moment its successor
    // materializes (see ConnectedComponents note)
    var prevCkpt: DataFrame = null
    while (it < iters) {
      val next = symDeg.join(ranks.hint("shuffle_hash"), symDeg("b") === ranks("v"))
        .groupBy(symDeg("a").as("v"))
        .agg(expr(s"$base + (85 * sum(rank div deg_b)) div 100").as("rank"))
      it += 1
      ranks =
        if (it < iters && it % 4 == 0) {
          val c = next.localCheckpoint()
          if (prevCkpt != null)
            org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(prevCkpt)
          prevCkpt = c
          c
        } else next
    }
    ranks.select(col("v"), col("rank"))
  }
}
