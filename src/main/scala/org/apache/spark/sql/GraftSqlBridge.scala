package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` surfaces needed to expose custom Catalyst
  * expressions as user-facing Columns (Spark 4 moved Column off the
  * catalyst Expression constructor; `classic.ExpressionUtils` is the
  * sanctioned conversion but is package-private).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a manually built logical plan as a DataFrame (runs the analyzer
    * — `classic.Dataset.ofRows` is `private[sql]`). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Drain the listener-bus queue (`private[spark]`): measurement tools
    * that read per-task metrics off a SparkListener must settle events
    * between samples or a slow bus bleeds one run's tasks into the next
    * sample's counters. */
  def waitForListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Re-assert hash partitioning on a `localCheckpoint()`ed Dataset.
    *
    * Under AQE the checkpoint's LogicalRDD comes back with
    * `UnknownPartitioning(0)` — `AdaptiveSparkPlanExec` never surfaces its
    * final plan's partitioning to `Dataset.checkpoint` (measured on this
    * engine: `repartition(4, b).localCheckpoint()` advertises Unknown) —
    * so every downstream join/aggregation keyed on the checkpoint's own
    * partition key re-exchanges the whole table. When the CALLER knows the
    * checkpoint was materialized directly from `repartition(n, cols)`
    * (checkpoint partitions correspond 1:1 to shuffle output partitions),
    * this stamps that hashpartitioning back onto the LogicalRDD so
    * EnsureRequirements can line other sides up with it instead.
    *
    * SAFETY: the claim must be TRUE — asserting a partitioning the RDD
    * does not have silently mis-joins. Only call on a checkpoint whose
    * immediate upstream was `repartition(n, cols)` with the same n and
    * column list. Throws `IllegalArgumentException` when `df` is not a
    * bare checkpoint (its analyzed plan is not a `LogicalRDD`): there is
    * no partitioning to stamp, and returning `df` unchanged would hide the
    * caller's broken assumption. */
  def assertHashPartitioned(df: DataFrame, colNames: Seq[String],
      numPartitions: Int): DataFrame =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val attrs = colNames.map(c => l.output.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"no column $c on checkpoint")))
        val part = org.apache.spark.sql.catalyst.plans.physical
          .HashPartitioning(attrs, numPartitions)
        ofRows(df.sparkSession, l.copy(outputPartitioning = part)(
          df.sparkSession.asInstanceOf[classic.SparkSession], None, None))
      case other => throw new IllegalArgumentException(
        s"assertHashPartitioned needs a checkpointed frame (LogicalRDD), got ${other.nodeName}")
    }

  /** Release the storage blocks of a `localCheckpoint()`ed Dataset NOW.
    *
    * Iterative operators (connected components, BFS, k-core, PageRank)
    * checkpoint each round and drop the reference to the previous round —
    * but the superseded blocks stay in the BlockManager until a full GC
    * lets the ContextCleaner notice the dead RDD. On a long-lived session
    * (a 215-query bench JVM, or a week-old cluster app) that lag
    * accumulates into executor-storage pressure that measurably degrades
    * later queries (bfs1 timed 5.7s late in a bench run vs 1.7s fresh).
    * The loop KNOWS the exact moment a round's blocks become garbage, so
    * it should say so instead of waiting for the GC to guess. No-op for
    * plans that aren't a materialized checkpoint (`LogicalRDD`).
    */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
}
