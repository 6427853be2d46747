package graft

import org.apache.spark.sql.functions._
import graft.similarity.VectorOps

/** SparkSessionExtensions surface: injected SQL functions and the
  * HOF-dot→DotFloatVectors optimizer rule (graft.ext.GraftExtensions,
  * wired via GraftSession.builder.withExtensions).
  */
class GraftExtensionsSpec extends SparkTestBase {

  test("dot_f32 is callable from SQL and matches the HOF left-fold result") {
    val row = spark.sql(
      """SELECT dot_f32(array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT)),
        |               array(CAST(4.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d""".stripMargin)
      .head()
    assert(row.getDouble(0) === 1.5 * 4.0 + (-2.0) * 0.5)
  }

  test("cosine_f32 from SQL: identical vectors give 1.0, orthogonal give 0.0") {
    val r = spark.sql(
      """SELECT cosine_f32(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)),
        |                  array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS same,
        |       cosine_f32(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)),
        |                  array(CAST(0 AS FLOAT), CAST(1 AS FLOAT))) AS orth""".stripMargin)
      .head()
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
  }

  test("NativeDotRewrite: VectorOps.dot over ARRAY<FLOAT> optimizes to DotFloatVectors") {
    import spark.implicits._
    // parquet-backed input: a literal LocalRelation would be constant-folded
    // away before the plan assertion could see the rewritten expression
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.select(VectorOps.dot($"embedding", $"embedding").as("d"))
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("dot_float_vectors"), s"expected native rewrite in:\n$opt")
    assert(!opt.contains("aggregate("), s"HOF aggregate should be gone:\n$opt")
  }

  test("NativeDotRewrite leaves non-float and non-dot aggregates untouched") {
    import spark.implicits._
    // ARRAY<DOUBLE> input (parquet-backed, so nothing constant-folds): the
    // float-only rewrite must leave the HOF aggregate in place
    val dbl = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(transform($"embedding", x => x.cast("double")).as("a"))
    val optDbl = dbl.select(VectorOps.dot($"a", $"a").as("d"))
      .queryExecution.optimizedPlan.toString
    assert(!optDbl.contains("dot_float_vectors"), s"double arrays must not rewrite:\n$optDbl")
    assert(optDbl.contains("aggregate("), s"HOF aggregate should remain:\n$optDbl")

    val flt = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    val sumAgg = flt.select(
      aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") + y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("s"))
    assert(!sumAgg.queryExecution.optimizedPlan.toString.contains("dot_float_vectors"))
    assert(sumAgg.head().getDouble(0) === 10.0)
  }

  test("rewritten dot is bit-identical to the native route on real embeddings") {
    import spark.implicits._
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50)
    def dots(d: org.apache.spark.sql.Column): Map[Long, Double] =
      e.select($"vec_id", d.as("d")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference: the same fold over the embeddings widened to ARRAY<DOUBLE>,
    // which the float-only rule leaves a HOF (see the case above)
    val wide = transform($"embedding", _.cast("double"))
    val viaHof = dots(VectorOps.dot(wide, wide))
    val viaRewrite = dots(VectorOps.dot($"embedding", $"embedding"))
    val viaNative = dots(VectorOps.dotNative($"embedding", $"embedding"))
    assert(viaHof.nonEmpty)
    assert(viaRewrite === viaHof)
    assert(viaNative === viaHof)
  }
}
