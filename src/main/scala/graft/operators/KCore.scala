package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round k-core peeling (Matula & Beck 1983 / Batagelj–Zaveršnik,
  * in its synchronous distributed form): each round removes EVERY vertex
  * whose degree in the current induced subgraph is < k, then recomputes
  * degrees on the induced edge set. Peeling is monotone (V₁ ⊇ V₂ ⊇ …), and
  * once a round removes nothing the survivors are exactly the k-core; the
  * round bound makes the operator's output well-defined on both engines
  * regardless of convergence (the same bounded-iteration treatment as
  * [[PageRank]]'s fixed iteration count — the reference for unrolling an
  * iterative fixed point into a deterministic, oracle-checkable query).
  *
  * Scale design: one degree aggregation (shuffle on vertex id, map-side
  * combined) plus two shuffle LEFT SEMI joins per round — the survivor set
  * scales with the graph, so it is never broadcast. Edges are
  * `localCheckpoint`ed every round: the result each round is small relative
  * to its lineage, and without the cut Catalyst would re-derive round r
  * from round 0 every time (the [[ConnectedComponents]] lesson). All
  * counts are exact longs.
  */
object KCore {

  /** Local-tail-finish guards: once a round's survivor set is at most
    * [[LocalFinishNodes]] vertices AND its induced edge list is PROVABLY
    * under [[LocalFinishEdges]] rows, the remaining synchronous peel runs
    * driver-side with identical semantics (collected as primitive
    * (Long, Long) tuples — broadcast-class driver memory, ~50 MB at the
    * cap). Peeling is monotone, so at ANY data scale the tail eventually
    * shrinks under the guard — and until it does, the guard never fires;
    * this is the same bounded-collect class as a broadcast build side,
    * not a driver-side-loop anti-pattern.
    *
    * The edge guard is the survivors' DEGREE SUM halved — every induced
    * edge is counted from both endpoints in the current round's degree
    * table, so Σ dg(keep)/2 is a sound upper bound that costs one tiny
    * aggregation over the already-checkpointed survivor table. The r7
    * shape probed with `induced.limit(cap+1).collect` instead, which RUNS
    * the induced join to find out: harmless under the old 4096-node guard
    * (by the time it fired the graph was tiny), but under this wider
    * guard an over-cap miss would pay the round's most expensive join
    * twice (probe + fallback). The degree bound is conservative (it
    * counts edges to just-peeled neighbours), so a fire is always safe
    * and a miss costs one metadata-cheap aggregation. Measured
    * (SCALING.md "r8 decision probes", kc row; interleaved A/B at
    * sf1/local[32]): old vs new guard is a wash there (4.92 s vs 4.88 s
    * best) — the sf1 cost floor is the oracle-pinned edge CONSTRUCTION
    * (distinct → window → distinct over the co-supply pairs), not round
    * count; the wider guard is kept for graphs whose tails shed slower.
    * The guards are immutable constants (an r8 sys.props dial was read on
    * every call, so a stray property set earlier in a shared JVM silently
    * changed production guard geometry — ADVICE r8). */
  val LocalFinishNodes: Long = 32768L
  val LocalFinishEdges: Long = 1L << 20

  /** Peel `edges` (distinct undirected pairs `u`,`v`, no self loops) for
    * `rounds` synchronous rounds at threshold `k`. Returns one row per
    * round: (round, n_peeled, n_remaining), where n_remaining counts the
    * vertices surviving that round's degree test. The per-round counts ARE
    * the aggregate output (the peel profile — how fast the graph sheds its
    * periphery).
    *
    * `inputCheckpointed` (r11): caller guarantees `edges` is ALREADY a
    * long-typed localCheckpoint — skips the round-0 normalize+checkpoint
    * pass (ownership transfers: the peel releases it when superseded, as
    * with its own checkpoints). `deg0` (r11): the round-0 degree table,
    * when the caller already aggregated it (e.g. for a data-derived k) —
    * kc1 paid the SAME edge-wide degree aggregation twice, once for the
    * threshold scalar and once inside round 1. */
  def peelRounds(edges: DataFrame, k: Int, rounds: Int,
      nVertices: Option[Long] = None,
      inputCheckpointed: Boolean = false,
      deg0: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    val out = Seq.newBuilder[(Long, Long, Long)]
    // ids normalized to LONG at the boundary: key columns are
    // Integral-class under the testdata drift contract (int32 ↔ int64
    // across regenerations), and the local tail finish reads them as
    // primitive longs — without the cast a regenerated int32 file would
    // pass every DataFrame round and crash the first collect
    var e = if (inputCheckpointed) edges
      else edges.select(col("u").cast("long").as("u"),
        col("v").cast("long").as("v")).localCheckpoint()
    var deg = deg0.getOrElse(degrees(e))
    // callers that already aggregated the degree table (e.g. for a
    // data-derived k) pass the vertex count instead of paying the same
    // edge-wide degree shuffle a second time
    var prev = nVertices.getOrElse(deg.count())
    var r = 1
    var converged = false
    import org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint
    while (r <= rounds && !converged) {
      // survivors kept WITH their degree: the local-finish edge bound is
      // sum(dg)/2 over this (small, checkpointed) table — one cheap job
      val keep = deg.filter(col("dg") >= k).localCheckpoint()
      val cur = keep.count()
      out += ((r.toLong, prev - cur, cur))
      // ONE induced-subgraph expression serves both execution paths — the
      // local finish's claim of semantic identity with the distributed
      // rounds must not depend on two copies staying in sync
      def induced: DataFrame =
        e.join(keep.select(col("x").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("x").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v"))
      def distributedRound(): Unit = {
        val next = induced.localCheckpoint()
        // release superseded round blocks immediately (see Bfs/CC note)
        unpersistCheckpoint(e)
        e = next
        deg = degrees(e)
        prev = cur
      }
      if (cur == prev) {
        // fixed point: peeling is deterministic, so every later round is
        // (0 peeled, cur remaining) — fill without running further jobs
        converged = true
        ((r + 1) to rounds).foreach(i => out += ((i.toLong, 0L, cur)))
      } else if (r < rounds && cur <= LocalFinishNodes &&
          // coalesce: a round that peels EVERY survivor leaves keep empty
          // and sum(dg) null — getLong on that is an NPE, and the empty
          // tail is exactly the cheapest local finish there is
          keep.agg(coalesce(sum(col("dg")), lit(0L)))
            .head().getLong(0) / 2 <= LocalFinishEdges) {
        // guarded local tail finish: the degree-sum bound above PROVES the
        // induced edge set fits, so this collect is bounded before it
        // runs (primitive tuples — an untyped Row collect would
        // transiently hold ~10× the bytes in boxed GenericRows)
        import spark.implicits._
        var localEdges = induced.as[(Long, Long)].collect()
        var prevLocal = cur
        var r2 = r + 1
        var doneLocal = false
        while (r2 <= rounds && !doneLocal) {
          val dg = scala.collection.mutable.Map.empty[Long, Long]
          localEdges.foreach { case (u, v) =>
            dg(u) = dg.getOrElse(u, 0L) + 1; dg(v) = dg.getOrElse(v, 0L) + 1
          }
          val keepSet = dg.iterator.collect { case (x, d) if d >= k => x }.toSet
          val curLocal = keepSet.size.toLong
          out += ((r2.toLong, prevLocal - curLocal, curLocal))
          if (curLocal == prevLocal) {
            doneLocal = true
            ((r2 + 1) to rounds).foreach(i => out += ((i.toLong, 0L, curLocal)))
          } else {
            localEdges = localEdges
              .filter { case (u, v) => keepSet(u) && keepSet(v) }
            prevLocal = curLocal
          }
          r2 += 1
        }
        converged = true // profile complete — no more distributed rounds
      } else if (r < rounds) {
        distributedRound()
      }
      // (at r == rounds with cur != prev, nothing remains to compute: the
      // old code paid a final induced checkpoint no later round ever read)
      unpersistCheckpoint(keep) // the induced edge checkpoint absorbed it
      r += 1
    }
    unpersistCheckpoint(e) // the profile is driver-side rows by now
    import spark.implicits._
    spark.createDataFrame(out.result()).toDF("round", "n_peeled", "n_remaining")
      .orderBy($"round")
  }

  private[graft] def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("dg"))
}
