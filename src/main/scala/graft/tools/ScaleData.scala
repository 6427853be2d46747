package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a larger scale factor from an existing one by writing `k`
  * disjoint replicas with per-replica key offsets — the driver provides
  * testdata only up to sf0.1, and the scaling probe needs one more decade
  * to separate "linear in data" from "superlinear" slopes.
  *
  * Design constraints (what makes the scale-up honest for timing):
  *  - every foreign key is offset by the SAME replica stride as its
  *    primary key, so intra-replica referential integrity — join
  *    selectivities, group sizes, rows-per-order — is byte-identical to
  *    the source;
  *  - document text goes through a per-replica Caesar cipher
  *    (`translate`), so exact/near-duplicate STRUCTURE is preserved
  *    within a replica while cross-replica similarity collapses —
  *    without this, every doc would be a near-dup of its 9 clones and
  *    dedup candidate pairs would grow ×k², a fake quadratic;
  *  - embeddings are circularly rotated per replica (norms and
  *    intra-replica geometry exact, cross-replica cosine decorrelated);
  *  - region/nation stay fixed (TPC-H semantics: nation keys are part of
  *    query predicates, not scale).
  *
  * Usage: runMain graft.tools.ScaleData <srcDir> <dstDir> [k=10]
  */
object ScaleData {

  private val alpha = "abcdefghijklmnopqrstuvwxyz"
  private def shifted(i: Int): String = {
    val s = i % 26
    alpha.drop(s) + alpha.take(s)
  }

  /** Replicate `df` k times, applying `perReplica(i)` column overrides. */
  private def replicate(df: DataFrame, k: Int)
      (perReplica: Int => Map[String, Column]): DataFrame =
    (0 until k).map { i =>
      val over = perReplica(i)
      df.select(df.columns.map(c => over.getOrElse(c, col(c)).as(c)).toSeq: _*)
    }.reduce(_ union _)

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key).cast("long"))).head().getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    val Array(src, dst) = args.take(2)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.GraftSession.local()
    import graft.core.Tables

    def off(strideLen: Long)(i: Int)(c: Column): Column = c + lit(i * strideLen)

    val custS = stride(Tables.customer(spark, src), "c_custkey")
    val suppS = stride(Tables.supplier(spark, src), "s_suppkey")
    val partS = stride(Tables.part(spark, src), "p_partkey")
    val ordS  = stride(Tables.orders(spark, src), "o_orderkey")
    val evS   = stride(Tables.load(spark, src, "events"), "event_id")
    val userS = stride(Tables.load(spark, src, "events"), "user_id")
    val docS  = stride(Tables.documents(spark, src), "doc_id")
    val vecS  = stride(Tables.embeddings(spark, src), "vec_id")

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] wrote $name")
    }

    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))
    write("customer", replicate(Tables.customer(spark, src), k)(i =>
      Map("c_custkey" -> off(custS)(i)(col("c_custkey")))))
    write("supplier", replicate(Tables.supplier(spark, src), k)(i =>
      Map("s_suppkey" -> off(suppS)(i)(col("s_suppkey")))))
    write("part", replicate(Tables.part(spark, src), k)(i =>
      Map("p_partkey" -> off(partS)(i)(col("p_partkey")))))
    write("orders", replicate(Tables.orders(spark, src), k)(i => Map(
      "o_orderkey" -> off(ordS)(i)(col("o_orderkey")),
      "o_custkey"  -> off(custS)(i)(col("o_custkey")))))
    write("lineitem", replicate(Tables.lineitem(spark, src), k)(i => Map(
      "l_orderkey" -> off(ordS)(i)(col("l_orderkey")),
      "l_partkey"  -> off(partS)(i)(col("l_partkey")),
      "l_suppkey"  -> off(suppS)(i)(col("l_suppkey")))))
    // raw load: keep the file's own ts encoding; Tables.events would add
    // derived columns that don't belong in the fixture.
    // Replica timestamps shift by i whole periods (span + 2-day buffer,
    // day-aligned): identical replica timestamps would otherwise
    // manufacture ×k² interval-overlap output (round-5 slope table needed
    // a prose apology for it). Day alignment preserves hour-of-day
    // distributions; disjoint periods model "k× longer retention at the
    // same traffic rate" — constant density, the scale model under which
    // a plan slope is attributable to the plan.
    val rawEv = Tables.load(spark, src, "events")
    val periodDays = rawEv
      .agg(datediff(max(col("ts")), min(col("ts")))).head().getInt(0) + 2
    write("events", replicate(rawEv, k)(i => Map(
      "event_id" -> off(evS)(i)(col("event_id")),
      "user_id"  -> off(userS)(i)(col("user_id")),
      "ts"       -> expr(s"timestampadd(DAY, ${i * periodDays}, ts)"))))
    write("documents", replicate(Tables.documents(spark, src), k)(i => Map(
      "doc_id" -> off(docS)(i)(col("doc_id")),
      "text"   -> translate(col("text"), alpha + alpha.toUpperCase,
                            shifted(i) + shifted(i).toUpperCase))))
    val dim = Tables.embeddings(spark, src)
      .select(size(col("embedding"))).head().getInt(0)
    write("embeddings", replicate(Tables.embeddings(spark, src), k)(i => {
      val r = i % math.max(dim, 1)
      val rot = if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dim - r),
                    slice(col("embedding"), 1, r))
      Map("vec_id" -> off(vecS)(i)(col("vec_id")), "embedding" -> rot)
    }))
    spark.stop()
  }
}
