package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (lazy — one JVM-wide session is fine,
  * getOrCreate reuses it across suites). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.GraftSession.local(4)

  def tmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  /** `body`'s result and the number of Spark jobs it started. Jobs are
    * counted under a job group of their own, so other threads' jobs do
    * not count. */
  def countingJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"counted-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "counted")
    try {
      val result = body
      org.apache.spark.sql.GraftSqlBridge.waitForListenerBus(spark)
      (result, jobs.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Exchanges in `df`'s executed plan, counted through AQE query stages
    * and subqueries (AQE's final plan once `df` itself has run). */
  def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan)(PlanWalk.exchange).size

  /** One (left, right) exchange count per shuffled hash join in `df`'s
    * executed plan whose left keys include column `key`: the exchanges
    * under each side of the join, counted as in [[exchanges]]. */
  def joinSideExchanges(df: org.apache.spark.sql.DataFrame, key: String): Seq[(Int, Int)] =
    PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == key)) =>
        (PlanWalk.collect(j.left)(PlanWalk.exchange).size,
          PlanWalk.collect(j.right)(PlanWalk.exchange).size)
    }

  def write(path: java.nio.file.Path, name: String, content: String): String = {
    val f = path.resolve(name)
    java.nio.file.Files.writeString(f, content)
    f.toString
  }
}

private object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.SparkPlan
  val exchange: PartialFunction[SparkPlan, SparkPlan] = {
    case e: org.apache.spark.sql.execution.exchange.Exchange => e
    case e: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => e
  }
}
