package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous majority label propagation (LPA community detection,
  * Raghavan et al. 2007) — a FIXED number of synchronous rounds with a
  * deterministic tie-break, which is what makes the result reproducible
  * and oracle-checkable (classic async LPA is order-dependent).
  *
  * Distinct from [[ConnectedComponents]]: min-label propagation converges
  * to components; MAJORITY propagation splits a component into densely
  * connected communities — a bridge edge carries one vote and loses to
  * either side's internal majority.
  *
  * Per round: one equijoin (labels onto edge targets) and two mergeable
  * hash aggregations — votes per (node, label), then argmax by
  * (count desc, label asc) as a single `max(struct(cnt, -label))` (never
  * a per-node rank window). The labels frame stays node-sized and rounds
  * are fixed. Checkpoint discipline: the SYMMETRIZED edge list — read by
  * every round — is localCheckpoint'ed once so its union+distinct runs
  * one time, while the labels lineage (3 join+agg layers) stays LAZY:
  * per-round eager checkpoints would serialize three separate jobs where
  * one suffices (measured best-of-3 5.0 s → 2.5 s at sf0.1/local[32]).
  * Long runs re-checkpoint labels every 5 rounds to bound plan growth,
  * the PageRank/KCore discipline.
  */
object LabelPropagation {

  /** `edges`: columns (u, v), treated as undirected (symmetrized and
    * deduped internally). Returns (node, label) after `rounds` synchronous
    * majority updates from the all-distinct initialization.
    *
    * Shuffle geometry (r9, corrected r11): sym is checkpointed
    * pre-partitioned on the per-round join key `v`. The r9 note claimed
    * the checkpoint KEEPS that partitioning across rounds — it does not
    * (AQE returns UnknownPartitioning; see the build comment below) —
    * but the vote join AQE-broadcasts the node-sized labels, so the edge
    * side escapes the per-round shuffle regardless, and the build
    * geometry is where the adopted win lives. The build stays one shuffle:
    * hash partitioning on v alone satisfies the dedup's (u, v) clustering,
    * so distinct() runs on the repartition exchange without another. Each
    * round then pays exactly one edge-wide exchange — repartition(u) after
    * the join — which co-locates BOTH vote aggregations (clustering by u
    * satisfies the (u, label) grain too), where the r8 shape paid the sym
    * shuffle plus separate (u, label) and (u) exchanges. Measured
    * interleaved-A/B at local[32]: SCALING.md "r9 decision probes", lp1
    * row. */
  def run(edges: DataFrame, rounds: Int): DataFrame =
    run(edges, rounds, prePartition = true)

  private[graft] def run(edges: DataFrame, rounds: Int,
      prePartition: Boolean): DataFrame = {
    val sym0 = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    // r11 correction to the r9 comment: "LogicalRDD keeps the hash
    // partitioning across the checkpoint" is FALSE under AQE — the
    // checkpoint comes back UnknownPartitioning and every round
    // re-shuffles the edge list after all (measured; see
    // GraftSqlBridge.assertHashPartitioned). The prePartition win that
    // WAS measured in r9 comes from the build geometry alone (one
    // exchange whose v-clustering co-supplies the (u, v) dedup). A
    // pinned-count + asserted variant that makes the original per-round
    // claim real was probed r11 (OPTIMIZATION_r11.md §4) and measured a
    // LOSS at sf0.1/local[32] (2.04 → 2.96 s) and a wash at sf1 (3.68 →
    // 4.04 s):
    // unlike pr1's SHUFFLE_HASH-hinted joins, lp1's vote join can
    // AQE-broadcast the node-sized labels, so the edge side escapes the
    // per-round shuffle anyway and the pin only adds un-coalesced task
    // floor. The r9/r10 shape stays.
    val sym = (if (prePartition) sym0.repartition(col("v")).distinct()
               else sym0.distinct())
      .localCheckpoint() // read by every round: symmetrize+dedup ONCE
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    var prevCkpt: org.apache.spark.sql.DataFrame = null
    for (i <- 1 to rounds) {
      val voted = sym.join(labels.withColumnRenamed("node", "v"), "v")
      labels = (if (prePartition) voted.repartition(col("u")) else voted)
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("u"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("label"))
      // bound plan depth on long runs without serializing short ones;
      // release the superseded interior checkpoint immediately (the final
      // labels plan still reads sym and the LAST checkpoint — those stay)
      if (i % 5 == 0 && i < rounds) {
        val c = labels.localCheckpoint()
        if (prevCkpt != null)
          org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(prevCkpt)
        prevCkpt = c
        labels = c
      }
    }
    labels
  }
}
