package graft.llm

import graft.SparkTestBase
import graft.core.{ScalarSub, Tables}
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Each case compares a shipped plan shape with a reference built here,
  * in the spec: the shape it replaced, or an arm measured against it and
  * never shipped (OPTIMIZATION_r10.md §6, OPTIMIZATION_r11.md §6,
  * SCALING.md). Each rewrite changed only the physical geometry, so both
  * sides must produce identical rows at the fixture SF; a later edit that
  * drifts the shipped side's semantics fails here. The IVF cases instead
  * reach both sides of the data-derived two-level gate through
  * `ivfCellsAt`'s forcing modes (OPTIMIZATION_r11.md §2).
  *
  * Shapes covered elsewhere: nv1 by SearchNoveltySpec's driver recompute,
  * kc1's shared edge/degree build by KCoreSpec's `deg0` case, lp1 by
  * LabelPropagationSpec's reference and ScalaCheck cases. The pr1 and tc1
  * pins are gated on edge counts (4M and 500k rows) that no fixture
  * reaches.
  */
class ShapeEquivalenceSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** The (doc_id, pos, tok, lang) token stream the text queries read. */
  private def toks: DataFrame = TextOps.docTokens(Tables.documents(spark, sf),
    col("doc_id"), col("text"), keep = Seq(col("lang")))

  /** The (doc_id, w1, w2) bigram stream in the oracle SQL's own
    * definition: lead(tok) over (doc_id ORDER BY pos). */
  private def leadBigrams: DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    toks.select($"doc_id", $"tok".as("w1"), lead($"tok", 1).over(w).as("w2"))
      .filter($"w2".isNotNull)
  }

  /** t10 over a given bigram stream, its global (w1, w2) counts derived
    * from the per-doc counts (an exact integer-sum identity). */
  private def t10Derived(bg: DataFrame): DataFrame = {
    import spark.implicits._
    val dc = bg.groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("c"))
    val bc = dc.groupBy($"w1", $"w2").agg(sum($"c").as("cb"))
    val uc = bc.groupBy($"w1").agg(sum($"cb").as("cu"))
    dc.join(broadcast(bc), Seq("w1", "w2"))
      .join(broadcast(uc), Seq("w1"))
      .transform(ScalarSub.withScalars(_, toks.agg(countDistinct($"tok").as("v"))))
      .withColumn("term", $"c".cast("double") *
        log(($"cb" + 1).cast("double") / ($"cu" + $"v").cast("double")))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"),
        sort_array(collect_list(struct($"w1", $"w2", $"term"))).as("ts"))
      .withColumn("lp", aggregate($"ts", lit(0.0), (acc, x) => acc + x("term")))
      .select($"doc_id", $"n_bigrams", round($"lp" / $"n_bigrams".cast("double"), 6))
      .orderBy($"doc_id")
  }

  /** t11 over a given bigram stream, its total `nb` derived from the
    * pre-filter (w1, w2) count table (Σ cab). */
  private def t11Derived(bg: DataFrame): DataFrame = {
    import spark.implicits._
    val bc = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("cab"))
    val ug = toks.groupBy($"tok").agg(count(lit(1)).as("cu"))
    bc.filter($"cab" >= 5)
      .join(broadcast(ug.select($"tok".as("w1"), $"cu".as("ca"))), "w1")
      .join(broadcast(ug.select($"tok".as("w2"), $"cu".as("cb"))), "w2")
      .transform(ScalarSub.withScalars(_, toks.agg(count(lit(1)).as("nt"))))
      .transform(ScalarSub.withScalars(_,
        bc.agg(coalesce(sum($"cab"), lit(0L)).as("nb"))))
      .select($"w1", $"w2", $"cab",
        round(log($"cab".cast("double") * $"nt".cast("double") * $"nt".cast("double") /
          ($"nb".cast("double") * $"ca".cast("double") * $"cb".cast("double"))), 6)
          .as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2").limit(20)
  }

  test("bigrams: array-zip stream == window-lead stream (as a multiset)") {
    // t10 and t11 read the stream only through aggregations, so its row
    // order is never observed
    val a = rows(LlmQueries.bigrams(spark, sf)).sorted
    assert(a.nonEmpty && a == rows(leadBigrams).sorted)
  }

  test("t10: array-zip bigram stream == window-lead bigram stream") {
    val a = rows(LlmQueries.t10(spark, sf))
    assert(a.nonEmpty && a == rows(t10Derived(leadBigrams)))
  }

  test("t11: array-zip bigram stream == window-lead bigram stream") {
    val a = rows(LlmQueries.t11(spark, sf))
    assert(a.nonEmpty && a == rows(t11Derived(leadBigrams)))
  }

  // ---- r11 shared-stage arms (exact sum-over-finer-grain identities)

  test("t9: shared (doc_id, tok) stage == independent aggregations") {
    import spark.implicits._
    val dc = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val nDocs = dc.agg(countDistinct($"doc_id").as("n_docs"))
    val dfT = dc.groupBy($"tok").agg(count(lit(1)).as("dft"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"tok")
    val shared = dc.join(broadcast(dfT), "tok")
      .transform(ScalarSub.withScalars(_, nDocs))
      .withColumn("tfidf", round(
        $"c".cast("double") * log($"n_docs".cast("double") / $"dft".cast("double")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 3 && $"tfidf" > 0)
      .select($"doc_id", $"rk", $"tok", $"tfidf").orderBy($"doc_id", $"rk")
    val a = rows(LlmQueries.t9(spark, sf))
    assert(a.nonEmpty && a == rows(shared))
  }

  test("t8: unigram table derived from (doc_id, tok) counts == direct") {
    import spark.implicits._
    val dc = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val tokC = dc.groupBy($"tok").agg(sum($"c").as("ct"))
    val derived = dc.join(broadcast(tokC), "tok")
      .transform(ScalarSub.withScalars(_, tokC.agg(sum($"ct").as("total"))))
      .withColumn("term", $"c".cast("double") *
        log($"ct".cast("double") / $"total".cast("double")))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sort_array(collect_list(struct($"tok", $"term"))).as("ts"))
      .withColumn("lp", aggregate($"ts", lit(0.0), (acc, x) => acc + x("term")))
      .withColumn("avg_logprob", round($"lp" / $"n_tokens".cast("double"), 6))
      .select($"doc_id", $"n_tokens", $"avg_logprob", $"avg_logprob" >= -3.5)
      .orderBy($"doc_id")
    val a = rows(LlmQueries.t8(spark, sf))
    assert(a.nonEmpty && a == rows(derived))
  }

  test("t10: global bigram counts derived from per-doc counts == direct") {
    val a = rows(LlmQueries.t10(spark, sf))
    assert(a.nonEmpty && a == rows(t10Derived(LlmQueries.bigrams(spark, sf))))
  }

  test("t11: nb derived from pre-filter count table == direct stream count") {
    val a = rows(LlmQueries.t11(spark, sf))
    assert(a.nonEmpty && a == rows(t11Derived(LlmQueries.bigrams(spark, sf))))
  }

  test("t7: one co-partitioning exchange == three independent exchanges") {
    import spark.implicits._
    val pt = toks.repartition($"doc_id")
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val bgStats = pt.withColumn("nxt", lead($"tok", 1).over(w))
      .filter($"nxt".isNotNull)
      .groupBy($"doc_id", concat_ws("_", $"tok", $"nxt")).agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_bg"), sum($"c").as("n_bg"))
    val copart = pt.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_tok"), sum($"c").as("n_tok"),
        count(lit(1)).as("n_distinct"))
      .join(bgStats, Seq("doc_id"), "left")
      .withColumn("tt", $"top_tok".cast("double") / $"n_tok".cast("double"))
      .withColumn("tb",
        coalesce($"top_bg".cast("double") / $"n_bg".cast("double"), lit(0.0)))
      .select($"doc_id", $"tt", $"tb",
        ($"n_tok" - $"n_distinct").cast("double") / $"n_tok".cast("double"),
        $"tt" <= 0.2 && $"tb" <= 0.2)
      .orderBy($"doc_id")
    val a = rows(LlmQueries.t7(spark, sf))
    assert(a.nonEmpty && a == rows(copart))
  }

  test("dsir1 scored: shared (doc_id, lang, tok) stage == three passes") {
    import spark.implicits._
    val dcl = toks.groupBy($"doc_id", $"lang", $"tok").agg(count(lit(1)).as("c"))
    val rawC = dcl.groupBy($"tok").agg(sum($"c").as("cr0"))
    val tgtC = dcl.filter($"lang" === "en").groupBy($"tok").agg(sum($"c").as("ct0"))
    val model = rawC.join(tgtC, Seq("tok"), "left")
      .select($"tok", ($"cr0" + 1L).as("cr"), (coalesce($"ct0", lit(0L)) + 1L).as("ct"))
    val shared = dcl.select($"doc_id", $"tok", $"c")
      .join(broadcast(model), "tok")
      .transform(ScalarSub.withScalars(_,
        model.agg(sum($"cr").as("dr"), sum($"ct").as("dt"))))
      .withColumn("term", $"c".cast("double") *
        log(($"ct".cast("double") * $"dr".cast("double")) /
            ($"cr".cast("double") * $"dt".cast("double"))))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sort_array(collect_list(struct($"tok", $"term"))).as("ts"))
      .select($"doc_id", $"n_tokens",
        aggregate($"ts", lit(0.0), (acc, x) => acc + x("term")))
    val a = rows(QualityQueries.dsirScored(spark, sf).orderBy($"doc_id"))
    assert(a.nonEmpty && a == rows(shared.orderBy($"doc_id")))
  }

  // ---- r11 two-level IVF assignment invariants

  test("ivf: auto mode routes flat at k <= threshold") {
    val e = graft.core.Tables.embeddings(spark, sf)
    val cents = LlmQueries.ivfCentsAt(spark, e, 20) // <= ivfTwoLevelMin
    val a = rows(LlmQueries.ivfCellsAt(spark, e, cents, "flat")
      .orderBy(org.apache.spark.sql.functions.col("vec_id")))
    val b = rows(LlmQueries.ivfCellsAt(spark, e, cents, "auto")
      .orderBy(org.apache.spark.sql.functions.col("vec_id")))
    assert(a.nonEmpty && a == b)
  }

  test("ivf: fine-stage broadcast == shuffle_hash at two-level k") {
    // needs k > ivfTwoLevelMin=256 centroids, so the 500-vector sf0.01
    // fixture (the gate SF) stands in for the 50-vector one
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val cents = LlmQueries.ivfCentsAt(spark, e, 300)
    val a = rows(LlmQueries.ivfCellsAt(spark, e, cents, "twolevel")
      .orderBy(org.apache.spark.sql.functions.col("vec_id")))
    val b = rows(LlmQueries.ivfCellsAt(spark, e, cents, "twolevel-shuffle")
      .orderBy(org.apache.spark.sql.functions.col("vec_id")))
    assert(a.nonEmpty && a == b)
  }

  test("bfs bipartite: prePartition/shjHint arms == shipped levels") {
    import spark.implicits._
    val edges = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
    val src = Tables.customer(spark, sf)
      .filter($"c_nationkey" === 0).select(($"c_custkey" * 2).as("v"))
    // the never-shipped arms: edges checkpointed hash-partitioned on the
    // odd-round probe key `a`; optionally a SHUFFLE_HASH hint on the frontier
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def arm(shjHint: Boolean): Seq[String] = {
      val e = org.apache.spark.sql.GraftSqlBridge.pinnedCheckpoint(edges, Seq("a"), p)
      val side = Array[DataFrame](
        src.distinct().withColumn("level", lit(0)).localCheckpoint(), null)
      var frontier = side(0).select($"v")
      var d = 1
      while (d <= 3 && !frontier.isEmpty) {
        val (k, o) = if (d % 2 == 1) ("a", "b") else ("b", "a")
        val f = frontier.withColumnRenamed("v", k)
        val fresh = e.join(if (shjHint) f.hint("shuffle_hash") else f, k)
          .select(col(o).as("v")).distinct()
        val same = side(d % 2)
        val next = (if (same == null) fresh else fresh.join(same, Seq("v"), "left_anti"))
          .withColumn("level", lit(d)).localCheckpoint()
        side(d % 2) = if (same == null) next else same.union(next)
        frontier = next.select($"v"); d += 1
      }
      rows(side.filter(_ != null).reduce(_ union _).orderBy($"level", $"v"))
    }
    val shipped = rows(graft.operators.Bfs.levelsBipartite(edges, src, maxDepth = 3)
      .orderBy($"level", $"v"))
    assert(shipped.nonEmpty)
    assert(arm(shjHint = false) == shipped)
    assert(arm(shjHint = true) == shipped)
  }
}
