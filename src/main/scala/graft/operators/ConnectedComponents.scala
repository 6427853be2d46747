package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation —
  * the clustering stage of a dedup pipeline (near-dup PAIRS from an LSH /
  * band equijoin are only half the job: keep-one-per-group needs the
  * transitive closure of those pairs).
  *
  * Algorithm: every node starts labeled with its own id; each round a node
  * adopts the minimum label among itself and its neighbors (self-loops fold
  * the node's own label into ONE join + ONE aggregation), then two
  * path-compression shortcuts (lbl ← lbl[lbl]) contract label chains, so
  * convergence is O(log diameter) rounds rather than O(diameter) — the
  * hash-to-min trade (Rastogi et al., "Finding Connected Components in
  * Map-Reduce in Logarithmic Rounds"). Every step is a hash-shuffle join or
  * aggregation keyed on node ids — never anything quadratic, no driver-side
  * graph.
  *
  * Scale notes: labels are localCheckpoint'ed every round — iterative joins
  * otherwise stack lineage (and re-plan cost) linearly in round count.
  */
object ConnectedComponents {

  /** Checkpointed rounds (each two fused super-rounds) before [[run]] gives
    * up without a fixed point. */
  private val MaxIter = 25

  /** Components of the undirected graph given by `edges` (two long columns
    * `a`, `b`). Returns (v, root) with root = min node id reachable from v.
    * Nodes appear iff they occur in some edge; callers union isolated nodes
    * as (v, v) themselves.
    */
  def run(edges: DataFrame): DataFrame = {
    // materialize the (possibly expensive) upstream edge pipeline ONCE —
    // every round joins against it. RDD-level checkpoint, deliberately not
    // persist(): a CacheManager entry leaked from here would plan-match
    // against later unrelated queries in the session. Self-loops (v,v) make
    // a node its own neighbor, so each round is ONE join + ONE aggregation:
    // min over {self, neighbors} of the current label — no second join to
    // merge a node's own label back in.
    val bidir = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
    val sym0 = bidir
      .union(bidir.select(col("a")).distinct().select(col("a"), col("a").as("b")))
      .distinct()
    val sym = sym0.localCheckpoint()
    var labels = sym.filter(col("a") === col("b"))
      .select(col("a").as("v"), col("a").as("lbl"))
    // Labels only ever decrease (new = min over self+neighbors), so the
    // label SUM strictly decreases until the fixpoint — an O(1)-row agg on
    // the just-checkpointed result replaces a per-round changed-rows count.
    // decimal(38,0): n node-ids can overflow a long sum at cluster scale.
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = lblSum(labels)
    var converged = false
    var it = 0
    // Path compression: lbl[v] ← lbl[lbl[v]] (valid because lbl[u] ≤ u
    // always — the referenced node exists and its label is no larger).
    // Propagation alone needs O(diameter) rounds; near-dup graphs can
    // contain long chains, and two shortcut applications per round cut the
    // remaining distance-to-root ~4× → O(log diameter) rounds total, the
    // hash-to-min trade (Rastogi et al., "Finding Connected Components in
    // Map-Reduce in Logarithmic Rounds").
    def shortcut(df: DataFrame): DataFrame = {
      val m = df.select(col("v").as("sv"), col("lbl").as("slbl"))
      df.join(m, df("lbl") === m("sv"), "left")
        .select(df("v"), coalesce(col("slbl"), df("lbl")).as("lbl"))
    }
    // One propagate + two shortcuts; TWO such super-rounds are fused per
    // checkpoint+convergence check — the action/job overhead per round
    // dominates the (tiny) per-round compute, and the unreplanned plan
    // depth stays bounded at two rounds.
    def round(df: DataFrame): DataFrame = {
      val prop = sym.join(df, sym("a") === df("v"))
        .groupBy(sym("b").as("v"))
        .agg(min(col("lbl")).as("lbl"))
      shortcut(shortcut(prop))
    }
    while (!converged && it < MaxIter) {
      val next = round(round(labels)).localCheckpoint()
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // the superseded round's blocks are garbage THIS instant — release
      // them instead of waiting for a full GC to drive the ContextCleaner
      // (a long-lived session otherwise accumulates every round of every
      // run; no-op on round 0's derived frame)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(labels)
      labels = next
      it += 1
    }
    if (!converged) {
      // failure path: nothing backs a returned frame — release everything
      // (otherwise each failed/retried run strands sym + the last round)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(sym)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(labels)
    }
    require(converged, s"connected components did not converge in $MaxIter rounds")
    // the returned frame reads only the final labels checkpoint
    org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(sym)
    labels.select(col("v"), col("lbl").as("root"))
  }

  /** Dedup clustering: `pairs` (da, db) near-dup edges over `docIds`; every
    * doc gets a cluster root (its own id if untouched by any pair). */
  def clusters(spark: SparkSession, pairs: DataFrame, docIds: DataFrame): DataFrame =
    clustersFromComp(run(pairs.select(col("da").as("a"), col("db").as("b"))), docIds)

  /** [[clusters]] over an already-computed component table (v, root) —
    * lets a pipeline reuse ONE components run across its reporting and
    * drop-list stages instead of re-propagating labels per consumer. */
  def clustersFromComp(comp: DataFrame, docIds: DataFrame): DataFrame =
    docIds.select(col("doc_id"))
      .join(comp, docIds("doc_id") === comp("v"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
}
