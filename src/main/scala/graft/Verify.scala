package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-run correctness dump: each SparkEntry.registry result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Queries run 4 at
  * a time — the Spark scheduler is thread-safe and the local cluster is
  * otherwise underutilized by small single-query jobs. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  def jsonQ(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset (fast iteration
    // on new queries without paying for the whole inventory). An unknown
    // name is an error: a typo must not select nothing and pass 0/0.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val unknown = only.getOrElse(Set.empty) -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    val selected = SparkEntry.registry.filter(q => only.forall(_.contains(q.name)))
    val spark = graft.core.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val work = selected.map { q =>
      val name = q.name
      Future {
        try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          // A failed query must produce a RED row, never a missing one
          // (round-4 lesson: 41 analysis failures read as "84/84 green").
          // The marker survives in the query's output dir where both
          // selfcheck.py and a human will look first.
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          val d = new java.io.File(s"$outDir/$name"); d.mkdirs()
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}"
          Files.writeString(Paths.get(s"$outDir/$name/_ERROR.json"),
            s"""{"query": ${jsonQ(name)}, "err": ${jsonQ(msg)}}""")
        }
      }
    }
    Await.result(Future.sequence(work), Duration.Inf)
    pool.shutdown()
    def obj(kv: Seq[(String, String)]) =
      kv.sortBy(_._1).map { case (k, v) => s"${jsonQ(k)}: ${jsonQ(v)}" }
        .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(selected.map(q => q.name -> q.oracleSql)))
    // Full declared-query inventory, so a checker can tell a query that
    // silently vanished from the oracle map.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.map(_.name).sorted.map(jsonQ).mkString("[", ",", "]"))
    // Iterative (non-recursive) oracle formulations for the queries whose
    // recursive-CTE oracles are sf1-infeasible in DuckDB — selfcheck.py
    // switches to these when a wall cap is in force (see
    // LlmQueries.ccIterPairsSql). The SQL is authored next to the
    // recursive forms it mirrors; this file is just the transport.
    val iter = graft.llm.LlmQueries
    Files.writeString(Paths.get(s"$outDir/oracle_iter.json"),
      s"""{"pairs": ${jsonQ(iter.ccIterPairsSql)}, """ +
        s""""loop": ${obj(iter.ccIterLoop.toSeq)}, """ +
        s""""finals": ${obj(selected.flatMap(q => q.iterOracle.map(q.name -> _)))}, """ +
        s""""max_rounds": 200}""")
    spark.stop()
  }
}
