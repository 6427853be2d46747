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

  def write(path: java.nio.file.Path, name: String, content: String): String = {
    val f = path.resolve(name)
    java.nio.file.Files.writeString(f, content)
    f.toString
  }
}
