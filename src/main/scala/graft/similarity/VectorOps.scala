package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector similarity primitives over `Array[Float]` embedding columns.
  *
  * Two expression routes for the dot product:
  *  - [[dot]]/[[cosine]]: `zip_with` + `aggregate` — idiomatic, codegen'd,
  *    dimension-agnostic. Used by the library API and benchmarks.
  *  - [[dotSqlSpark]]/[[dotSqlDuck]]: UNROLLED left-associated sums,
  *    generated as SQL text for BOTH engines so the float→double casts and
  *    the addition order are bit-identical — required for the oracle
  *    hash-match (a different summation tree differs in final ulps).
  *    Spark arrays index 0-based, DuckDB 1-based; same structure otherwise.
  */
object VectorOps {

  /** Sequential left-fold dot product of two double-castable array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Native Catalyst-Expression dot product for ARRAY<FLOAT> columns —
    * same left-fold summation tree as [[dot]] (bit-identical results), but
    * a codegen'd primitive loop instead of per-element lambda dispatch.
    * See graft.functions.DotFloatVectors. */
  def dotNative(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(graft.functions.DotFloatVectors(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  // ---- unrolled SQL generators (shared shape, per-dialect indexing) ----

  private def terms(a: String, b: String, dim: Int, base: Int): String =
    (0 until dim).map(i =>
      s"CAST($a[${i + base}] AS DOUBLE) * CAST($b[${i + base}] AS DOUBLE)")
      .mkString(" + ")

  /** Spark SQL (0-based array indexing). */
  def dotSqlSpark(a: String, b: String, dim: Int): String = terms(a, b, dim, 0)
  /** DuckDB SQL (1-based list indexing). */
  def dotSqlDuck(a: String, b: String, dim: Int): String = terms(a, b, dim, 1)

  def cosineSqlSpark(a: String, b: String, dim: Int): String =
    s"(${dotSqlSpark(a, b, dim)}) / (sqrt(${dotSqlSpark(a, a, dim)}) * sqrt(${dotSqlSpark(b, b, dim)}))"
  def cosineSqlDuck(a: String, b: String, dim: Int): String =
    s"(${dotSqlDuck(a, b, dim)}) / (sqrt(${dotSqlDuck(a, a, dim)}) * sqrt(${dotSqlDuck(b, b, dim)}))"

  /** Sign-bucket SQL, mirrored for both dialects. */
  def bucketSqlSpark(a: String, bits: Int): String =
    (0 until bits).map(j =>
      s"(CASE WHEN $a[$j] >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
  def bucketSqlDuck(a: String, bits: Int): String =
    (0 until bits).map(j =>
      s"(CASE WHEN $a[${j + 1}] >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
}
