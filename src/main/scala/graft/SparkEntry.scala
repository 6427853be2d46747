package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Query

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * `registry` is every operator module's queries, each with the DuckDB
  * oracle it is hash-checked against at sf0.01. Names are checked unique
  * when this object initializes; `queries` and `oracleSql` are derived
  * from it.
  */
object SparkEntry {

  private val modules: Seq[graft.core.QueryModule] = Seq(
    graft.relational.Tpch,
    graft.relational.Tpch2,
    graft.analytics.AnalyticsQueries,
    graft.llm.LlmQueries,
    graft.llm.CorpusQueries,
    graft.llm.IndexQueries,
    graft.llm.QualityQueries,
    graft.relational.Extras,
    graft.relational.Temporal,
    graft.relational.GraphQueries,
    graft.sources.TimOracle,
    graft.sources.FixtureOracles,
  )

  val registry: Seq[Query] = modules.flatMap(_.registry)
  private val byName: Map[String, Query] = Query.index(registry)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.relational.Tpch.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] =
    byName.map { case (n, q) => n -> q.oracleSql }
}
