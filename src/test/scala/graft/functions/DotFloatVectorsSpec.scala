package graft.functions

import graft.SparkTestBase
import graft.core.Tables
import graft.similarity.VectorOps
import org.apache.spark.sql.functions._

class DotFloatVectorsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("native expression matches the HOF fold bit-for-bit on real embeddings") {
    // the reference folds the embeddings widened to ARRAY<DOUBLE> (the same
    // products and summation order): the test session installs
    // NativeDotRewrite, which turns a fold over ARRAY<FLOAT> into this very
    // expression and would compare it with itself
    val e = Tables.embeddings(spark, dir)
    val wide = transform(col("embedding"), _.cast("double"))
    val both = e.select(
      VectorOps.dot(wide, wide).as("hof"),
      VectorOps.dotNative(col("embedding"), col("embedding")).as("native"))
    val opt = both.queryExecution.optimizedPlan.toString
    assert(opt.contains("aggregate("), s"reference must stay a HOF fold:\n$opt")
    assert(both.count() > 0)
    assert(both.filter(col("hof") =!= col("native")).count() === 0)
  }

  test("known value, null propagation, unequal lengths") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 2.0f, 3.0f)), Some(Seq(4.0f, 5.0f, 6.0f))),
      (None, Some(Seq(1.0f))),
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f)))) // common prefix only
      .toDF("a", "b")
      .select(VectorOps.dotNative($"a", $"b").as("d"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) === 32.0)
    assert(rows(1).isNullAt(0))
    assert(rows(2).getDouble(0) === 3.0)
  }

  test("type check rejects non-float arrays") {
    import spark.implicits._
    val df = Seq(Seq(1.0, 2.0)).toDF("a")
    assertThrows[org.apache.spark.sql.AnalysisException] {
      df.select(VectorOps.dotNative($"a", $"a")).collect()
    }
  }

  test("participates in whole-stage codegen (no fallback)") {
    val e = Tables.embeddings(spark, dir)
    val q = e.select(VectorOps.dotNative(col("embedding"), col("embedding")).as("d"))
    q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("*("))
  }
}
