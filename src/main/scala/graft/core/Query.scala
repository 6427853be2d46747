package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark plan it builds from an sf
  * directory, and the DuckDB SQL it is hash-checked against on the same
  * parquet tables. `iterOracle` is an optional second formulation of the
  * oracle for queries whose recursive-CTE oracle is infeasible at large
  * scale factors (see [[graft.llm.LlmQueries.ccIterPairsSql]]).
  *
  * A blank oracle is rejected here. That includes the `null` a module's
  * `registry` reads when it is declared above the SQL val it references.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String,
    iterOracle: Option[String] = None) {
  require(oracleSql != null && oracleSql.trim.nonEmpty,
    s"query $name has no oracle SQL")
}

object Query {
  /** Name → query. Throws `IllegalArgumentException` listing every name
    * registered more than once, so no query can shadow another. */
  def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}

/** A group of registered queries. Every operator module exposes one;
  * SparkEntry concatenates them. Declare `registry` last in the module so
  * the SQL vals it reads are initialized. */
trait QueryModule {
  def registry: Seq[Query]
}
