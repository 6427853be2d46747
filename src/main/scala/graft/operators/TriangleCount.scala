package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact triangle counting by DEGREE-ORIENTED wedge enumeration — the
  * standard distributed algorithm: every undirected edge is directed from
  * its (degree, id)-lexicographically smaller endpoint, which (a) makes the
  * orientation acyclic so each triangle matches the wedge pattern
  * x→y, y→z, x→z exactly once, and (b) bounds per-node wedge work by the
  * ORIENTED out-degree — the O(|E|^1.5) total-work guarantee that holds on
  * skewed (power-law) graphs where naive per-node enumeration detonates on
  * the hub vertices.
  *
  * Everything is equijoins and hash aggregations on node ids — no
  * cartesian, no driver-side adjacency. The oriented edge list is
  * localCheckpoint'ed because the triangle join scans it three times; at
  * cluster scale the same role is played by caching or a shuffle reuse.
  */
object TriangleCount {

  /** One-row stats for the undirected simple graph `edges(u, v)` (callers
    * guarantee u ≠ v and no duplicate edge in either direction):
    * (n_nodes, n_edges, n_wedges, n_triangles, clustering) where
    * clustering = 3·triangles / wedges (the global transitivity).
    *
    * Pinned partitioning (r11): when the oriented edge list is `big`
    * (> 500k rows — the SAME dial that forces the triangle joins to
    * SHUFFLE_HASH), it is re-shuffled once onto an EXPLICIT partition
    * count on the probe key `src`, and that partitioning is kept on the
    * o and adj checkpoints (GraftSqlBridge.pinnedCheckpoint — under AQE
    * a bare localCheckpoint comes back UnknownPartitioning, so both
    * sides of both SHUFFLE_HASH triangle joins and the adjacency groupBy
    * would each pay an exchange). With the pin the adjacency aggregation
    * runs exchange-free on o's partitioning, the first triangle join is
    * zero-exchange on both sides, and the second only re-keys the probe
    * stream on `dst`. Below the dial the joins broadcast the adjacency and
    * the bare shape runs: there the pin only adds task floor. Plans and
    * numbers: OPTIMIZATION_r11.md §5. */
  def run(edges: DataFrame): DataFrame = {
    val p = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // ids normalized to LONG at the boundary (the KCore discipline): key
    // columns are Integral-class under the testdata drift contract, and
    // the adjacency lists feed SortedIntersectCount, which requires
    // ARRAY<BIGINT> — int32 input would fail analysis where the old
    // type-agnostic wedge self-join ran fine
    val e = edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")).localCheckpoint()
    // materialized: read by the two orientation joins AND the stats scalar
    // (un-checkpointed, the scalar subquery re-ran the whole degree
    // shuffle as its own job)
    val deg = e.select(col("u").as("x")).union(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val keyed = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    val smallerU = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    val o0 = keyed.select(
      when(smallerU, col("u")).otherwise(col("v")).as("src"),
      when(smallerU, col("v")).otherwise(col("u")).as("dst"))
    val o1 = o0.localCheckpoint()
    // the big/SHJ dial doubles as the pin dial (see scaladoc): past it,
    // one explicit src re-shuffle replaces the adjacency groupBy's and
    // the first triangle join's exchanges
    val big = o1.count() > 500000L
    val o =
      if (big) {
        val c = org.apache.spark.sql.GraftSqlBridge.pinnedCheckpoint(o1, Seq("src"), p)
        org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(o1)
        c
      } else o1
    // Count via ORIENTED ADJACENCY INTERSECTION instead of the classic
    // three-scan wedge self-join (r6 verdict directive 2): aggregate each
    // node's SORTED oriented out-neighbor list ONCE, then for every
    // oriented edge (u,v) the triangles it closes are |N⁺(u) ∩ N⁺(v)| —
    // each triangle x→y→z is counted exactly once, at its base edge (x,y),
    // because z is the unique common out-neighbor (y∉N⁺(z) and z is a sink
    // of the wedge). Total work is still the Σ(d⁺(u)+d⁺(v)) = O(|E|^1.5)
    // wedge bound, but it flows through an allocation-free two-pointer
    // merge per edge (functions.SortedIntersectCount — the built-in
    // size(array_intersect) hash-builds AND materializes the intersection
    // per edge, which was 1.4s of the 2.7s query) instead of materializing
    // and shuffling one row per wedge. Out-neighbor lists are bounded by
    // the oriented out-degree O(√|E|), so no skew funnel. Materialized:
    // BOTH probe joins read it, and without the checkpoint the grouping
    // shuffle runs once per join.
    // when pinned: exchange-free on o's partitioning, and the aggregation
    // output is already hash-partitioned on (src, p), so the re-pin plans
    // no exchange of its own
    val adj0 = o.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val adj =
      if (big) org.apache.spark.sql.GraftSqlBridge.pinnedCheckpoint(adj0, Seq("src"), p)
      else adj0.localCheckpoint()
    // Beyond broadcast size, SHUFFLE_HASH: build on the node-keyed
    // adjacency, stream the edges — a sort buys nothing for a join that
    // ends in one global sum (the count() is free; localCheckpoint just
    // materialized o).
    // e backs nothing once deg/o/adj are materialized — release it (the
    // returned plan reads only those three checkpoints + the tri scalar)
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(e)
    def buildSide(df: DataFrame): DataFrame = if (big) df.hint("shuffle_hash") else df
    val interCnt = {
      import org.apache.spark.sql.GraftSqlBridge
      GraftSqlBridge.column(graft.functions.SortedIntersectCount(
        GraftSqlBridge.expression(col("nu")),
        GraftSqlBridge.expression(col("nv"))))
    }
    val tri = o
      .join(buildSide(adj.select(col("src"), col("nbrs").as("nu"))), "src")
      .join(buildSide(adj.select(col("src").as("dst"), col("nbrs").as("nv"))), "dst")
      .agg(coalesce(sum(interCnt), lit(0L)).as("n_triangles"))
    // one stats pass over the (checkpointed, |V|-row) degree table —
    // n_edges = Σd/2 by the handshake lemma, so no separate edge-count
    // scalar job
    val stats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("(d * (d - 1)) div 2")).as("n_wedges"),
      coalesce(expr("sum(d) div 2"), lit(0L)).as("n_edges"))
    graft.core.ScalarSub.withScalars(stats, tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        // a wedge-free graph (perfect matching) has transitivity 0 by
        // convention — the unguarded division is an ANSI DIVIDE_BY_ZERO
        // (caught by the ScalaCheck property sweep)
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 6)).otherwise(lit(0.0))
          .as("clustering"))
  }
}
