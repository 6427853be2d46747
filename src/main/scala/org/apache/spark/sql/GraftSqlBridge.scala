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

  /** `df` hash-partitioned on `colNames` into `numPartitions` and
    * `localCheckpoint()`ed, with that partitioning kept on the checkpoint.
    *
    * Under AQE a checkpoint's LogicalRDD comes back as
    * `UnknownPartitioning(0)`, so every later join or aggregation keyed on
    * the checkpoint's own partition key would re-exchange the whole table.
    * The stamp put back here is the partitioning Spark's executed plan
    * reports for the materialized frame (AQE's final plan), moved onto the
    * checkpoint's output by column position; nothing is taken on trust
    * from the caller. When that plan does not report
    * `hashpartitioning(colNames, numPartitions)` over exactly
    * `numPartitions` RDD partitions, this throws and names what it
    * reported. The checkpoint's statistics and constraints are kept, so a
    * pinned table can still be broadcast where its size allows. */
  def pinnedCheckpoint(df: DataFrame, colNames: Seq[String],
      numPartitions: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val rep = df.repartition(numPartitions, colNames.map(df.col): _*)
    val ck = rep.localCheckpoint()
    val ran = rep.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val l = ck.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val keyAt = colNames.map(rep.columns.indexOf(_))
    val stamp = ran.outputPartitioning match {
      case h: HashPartitioning if h.numPartitions == numPartitions &&
          l.rdd.getNumPartitions == numPartitions &&
          h.expressions.map(_.canonicalized) == keyAt.map(ran.output(_).canonicalized) =>
        HashPartitioning(keyAt.map(l.output(_)), numPartitions)
      case other => throw new IllegalStateException(
        s"pinnedCheckpoint(${colNames.mkString(", ")}, $numPartitions): the executed " +
          s"plan reported $other over ${l.rdd.getNumPartitions} partitions")
    }
    ofRows(df.sparkSession, l.copy(outputPartitioning = stamp)(
      df.sparkSession.asInstanceOf[classic.SparkSession],
      Some(l.computeStats()), Some(l.constraints)))
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
