package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Query

/** The query registry's invariants: one name per query, one oracle per
  * name. Builds no DataFrame, so no Spark session is needed. */
class QueryRegistrySpec extends AnyFunSuite {

  private val noPlan: (SparkSession, String) => DataFrame = (_, _) => null

  test("Query.index rejects a duplicated name and names it") {
    val qs = Seq(Query("a_once", noPlan, "SELECT 1"),
      Query("b_twice", noPlan, "SELECT 2"),
      Query("b_twice", noPlan, "SELECT 3"))
    val e = intercept[IllegalArgumentException](Query.index(qs))
    assert(e.getMessage.contains("b_twice"))
    assert(!e.getMessage.contains("a_once"))
  }

  test("Query rejects a missing or blank oracle") {
    intercept[IllegalArgumentException](Query("q", noPlan, null))
    intercept[IllegalArgumentException](Query("q", noPlan, " \n"))
  }

  test("no registered query shadows another") {
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
  }

  test("queries and oracleSql cover the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("every query the tools and the Bench warm-up name is registered") {
    val named = Map(
      "ScalingProbe.sweepQueries" -> graft.tools.ScalingProbe.sweepQueries,
      "ScalingProbe.decadeQueries" -> graft.tools.ScalingProbe.decadeQueries,
      "ExplainDump.headline" -> graft.tools.ExplainDump.headline,
      "Bench.warmUp" -> Bench.warmUp)
    val unknown = named.flatMap { case (list, names) =>
      names.filterNot(SparkEntry.queries.contains).map(n => s"$list: $n")
    }
    assert(unknown.isEmpty, unknown.mkString(", "))
  }

  test("q8_market_share is Extras.q8 with its own oracle") {
    assert(SparkEntry.oracleSql("q8_market_share") == graft.relational.Extras.q8Sql)
  }

  test("iterative oracles belong to the connected-component queries") {
    val iter = SparkEntry.registry.filter(_.iterOracle.isDefined)
    assert(iter.map(_.name).toSet ==
      Set("c1_dedup_clusters", "c2_dedup_droplist", "cs1_canonical_selection"))
    iter.foreach(q => assert(q.iterOracle.get.contains("cc_comp"), q.name))
  }
}
