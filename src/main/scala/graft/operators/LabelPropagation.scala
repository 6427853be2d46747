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
    * Shuffle geometry (r9, corrected r11): sym is built with ONE
    * exchange — hash partitioning on the per-round join key `v` alone
    * satisfies the dedup's (u, v) clustering, so distinct() runs on the
    * repartition exchange without another. The checkpoint does NOT keep
    * that partitioning across rounds (AQE returns UnknownPartitioning),
    * but the vote join AQE-broadcasts the node-sized labels, so the edge
    * side escapes the per-round shuffle regardless. Each round then pays
    * exactly one edge-wide exchange — repartition(u) after the join —
    * which co-locates BOTH vote aggregations (clustering by u satisfies
    * the (u, label) grain too). A pinned-partitioning variant was
    * probed and measured a loss (OPTIMIZATION_r11.md §4; the r9 numbers
    * are SCALING.md "r9 decision probes", lp1 row). */
  def run(edges: DataFrame, rounds: Int): DataFrame = {
    val sym0 = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    val sym = sym0.repartition(col("v")).distinct()
      .localCheckpoint() // read by every round: symmetrize+dedup ONCE
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    var prevCkpt: org.apache.spark.sql.DataFrame = null
    for (i <- 1 to rounds) {
      val voted = sym.join(labels.withColumnRenamed("node", "v"), "v")
      labels = voted.repartition(col("u"))
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
