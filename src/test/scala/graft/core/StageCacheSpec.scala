package graft.core

import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkTestBase

class StageCacheSpec extends SparkTestBase {

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.map { case (id, text) => (id, text, "en", "web", text.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def writeRegions(dir: String, names: Seq[String]): Unit = {
    import spark.implicits._
    names.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/region.parquet")
  }

  test("a rewritten documents table is read again by d8's memoized shingles") {
    val dir = tmpDir("stagecache-d8").toString
    writeDocs(dir, Seq(7L -> "alpha beta gamma delta epsilon zeta",
      1L -> "one two three four five six"))
    assert(graft.llm.LlmQueries.d8(spark, dir).collect().toSeq ===
      Seq(Row(7L, 0L, 0.0, true)))
    // doc 1 now duplicates doc 7, and doc 17 is new
    writeDocs(dir, Seq(7L -> "alpha beta gamma delta epsilon zeta",
      1L -> "alpha beta gamma delta epsilon zeta",
      17L -> "one two three four five six"))
    assert(graft.llm.LlmQueries.d8(spark, dir).collect().toSeq ===
      Seq(Row(7L, 1L, 1.0, false), Row(17L, 0L, 0.0, true)))
  }

  test("a rewritten table is scanned again by Tables.load") {
    val dir = tmpDir("stagecache-table").toString
    writeRegions(dir, Seq("AFRICA", "AMERICA"))
    val before = Tables.region(spark, dir)
    assert(before.count() === 2)
    writeRegions(dir, Seq("AFRICA", "AMERICA", "ASIA"))
    val after = Tables.region(spark, dir)
    assert(after ne before)
    assert(after.select("r_name").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("AFRICA", "AMERICA", "ASIA"))
  }

  test("a hit is the same instance and runs no job") {
    val dir = tmpDir("stagecache-hit").toString
    writeRegions(dir, Seq("AFRICA", "AMERICA"))
    val table = Tables.region(spark, dir)
    val (again, tableJobs) = countingJobs(Tables.region(spark, dir))
    assert(again eq table)
    assert(tableJobs === 0)
    // a checkpointed stage: its build runs jobs, its hit none
    var builds = 0
    def stage = StageCache.get(spark, dir, "regionCheckpoint") {
      builds += 1
      Tables.region(spark, dir).localCheckpoint()
    }
    val (first, buildJobs) = countingJobs(stage)
    val (second, hitJobs) = countingJobs(stage)
    assert(buildJobs > 0)
    assert(second eq first)
    assert(hitJobs === 0)
    assert(builds === 1)
  }

  test("nested builds: each stage is built once, also under concurrent callers") {
    val dir = tmpDir("stagecache-nested").toString
    writeRegions(dir, Seq("AFRICA", "AMERICA", "ASIA"))
    val innerBuilds, outerBuilds = new AtomicInteger()
    def inner: DataFrame = StageCache.get(spark, dir, "inner") {
      innerBuilds.incrementAndGet()
      Tables.region(spark, dir).localCheckpoint()
    }
    def outer: DataFrame = StageCache.get(spark, dir, "outer") {
      outerBuilds.incrementAndGet()
      inner.filter("r_regionkey > 0").localCheckpoint()
    }
    val got = Await.result(Future.sequence(Seq.fill(4)(Future(outer))), 2.minutes)
    assert(got.forall(_ eq got.head))
    assert(got.head.count() === 2)
    assert(outerBuilds.get === 1 && innerBuilds.get === 1)
    assert(inner.count() === 3)
    assert(innerBuilds.get === 1)
    // a rewrite rebuilds both on their next call
    writeRegions(dir, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE"))
    assert(outer.count() === 3)
    assert(outerBuilds.get === 2 && innerBuilds.get === 2)
  }

  test("entries of a stopped session are dropped") {
    // Stopping a session stops the JVM's one SparkContext, which the other
    // suites share, so the check runs in a child JVM.
    val dir = tmpDir("stagecache-stopped")
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val cmd = Seq(ProcessHandle.current().info().command().get()) ++
      scala.jdk.CollectionConverters.ListHasAsScala(jvm.getInputArguments).asScala
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent")) ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.core.StageCacheStoppedSession", dir.toString)
    val log = dir.resolve("child.log").toFile
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
    assert(p.waitFor(3, java.util.concurrent.TimeUnit.MINUTES), "child JVM timed out")
    val out = java.nio.file.Files.readString(log.toPath)
    assert(p.exitValue() === 0, out)
    assert(out.contains("STOPPED-SESSION-DROPPED"), out)
  }
}

/** Child-JVM body of StageCacheSpec's stopped-session case: holds an entry
  * in one session, stops it, reads through a second session and checks
  * that the cache no longer holds the first. */
object StageCacheStoppedSession {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val first = GraftSession.local(1)
    import first.implicits._
    Seq((0, "AFRICA")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    Tables.region(first, dir)
    require(StageCache.sessions.contains(first), "entry of the first session missing")
    first.stop()
    val second: SparkSession = GraftSession.local(1)
    require(second ne first)
    require(Tables.region(second, dir).count() == 1)
    require(!StageCache.sessions.contains(first), "entry of the stopped session kept")
    require(StageCache.sessions == Set(second))
    second.stop()
    println("STOPPED-SESSION-DROPPED")
  }
}
