package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.execution.SparkPlan

/** Plan-shape audit: the 100 TB posture claims (broadcast dims, pushed
  * filters, no cartesian products) asserted against the actual physical
  * plans at sf0.001.
  */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // materialize so AQE settles on the final plan
    df.queryExecution.executedPlan.toString
  }

  /** Every registered query's initial physical plan (no execution), or the
    * error building it threw, recorded per query so one unreadable input
    * cannot abort a sweep and hide the audit of every other query. An
    * error still fails the sweep: it is listed with the other findings.
    * Iterative operators run actions while BUILDING the frame, so c1/c2
    * are left to their own specs. */
  private def sweepPlans(): Seq[(String, Either[String, SparkPlan])] =
    SparkEntry.registry.sortBy(_.name)
      .filter(q => q.name != "c1_dedup_clusters" && q.name != "c2_dedup_droplist")
      .map { q =>
        q.name -> (try Right(q.run(spark, dir).queryExecution.executedPlan)
          catch { case NonFatal(e) =>
            Left(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          })
      }

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q5: every dimension joins as broadcast, no cartesian") {
    val p = plan("q5_local_supplier")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q6: filters reach the parquet scan (pushdown)") {
    val p = formatted("q6_forecast_revenue")
    assert(p.contains("PushedFilters"))
    // shipdate range must be in the pushed filter set, not a post-scan filter only
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("LessThan(l_shipdate"))
  }

  test("q1: column pruning — scan reads only needed lineitem columns") {
    val p = formatted("q1_pricing_summary")
    val scanLine = p.split("\n").find(_.contains("ReadSchema")).get
    assert(!scanLine.contains("l_orderkey"), "q1 must not read join keys")
    assert(scanLine.contains("l_returnflag") && scanLine.contains("l_quantity"))
  }

  test("d2 minhash: candidate generation is an equijoin on band keys") {
    val p = plan("d2_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
  }

  test("s1 ANN: query vector arrives as a scalar subquery, no join at all") {
    // historical shape: crossJoin(broadcast(q)) -> BroadcastNestedLoopJoin.
    // current shape: the 1-row query vector is a ScalarSubquery struct —
    // no join node anywhere in the brute-force scan.
    val p = plan("s1_ann_brute_topk")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      p.take(2000))
    assert(!p.contains("Join"), "brute-force leg must not plan any join")
  }

  test("whole-stage codegen is active on the hot aggregation path") {
    val p = plan("q1_pricing_summary") // post-collect: AQE final plan
    assert(p.contains("*(")) // WholeStageCodegen stage markers
  }

  test("q18: the having-aggregate side is broadcast, orders is not built") {
    val p = plan("q18_large_orders")
    assert(p.contains("BroadcastExchange"))
    // the broadcast input must be the aggregated lineitem (sum_qty), not a
    // bare orders scan
    val bcIdx = p.indexOf("BroadcastExchange")
    assert(p.indexOf("HashAggregate", bcIdx) >= 0)
  }

  test("rj1 range join: bucketed equijoin, never a nested-loop join") {
    val p = plan("rj1_range_join_count")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("bf1: bloom probe filters the fact scan BEFORE the semi-join shuffle") {
    val p = plan("bf1_bloom_semijoin")
    val lines = p.split("\n")
    val fi = lines.indexWhere(l => l.contains("Filter") &&
      l.contains("bloom_might_contain_long"))
    assert(fi >= 0, "probe Filter node missing:\n" + p.take(2000))
    // structural check: the probe Filter's subtree (lines below it, before
    // any further join node) must be the lineitem scan — i.e. the probe
    // sits directly over the fact scan, below the semi-join, not above it
    val subtree = lines.drop(fi + 1).takeWhile(l => !l.contains("Join"))
    assert(subtree.exists(l => l.contains("lineitem")),
      "probe Filter is not over the lineitem scan:\n" + lines.slice(fi, fi + 5).mkString("\n"))
    // and a join ancestor exists ABOVE the probe (children print after
    // parents in the tree string)
    assert(lines.take(fi).exists(_.contains("Join")),
      "no join above the probe Filter:\n" + p.take(2000))
  }

  test("tk1: top-k per group is a mergeable aggregate, not a rank window") {
    val p = plan("tk1_topk_per_group")
    assert(!p.contains("windowspecdefinition"),
      "tk1 must not plan a window sort — TopKByScore is the whole point")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
      p.contains("HashAggregate"))
  }

  test("pr1/pack1: iterative and prefix-sum operators keep data partitioned") {
    for (q <- Seq("pr1_pagerank", "pack1_sequence_packing")) {
      val p = plan(q)
      // an unpartitioned Window prints an empty partition-spec bracket —
      // match that shape (the literal "windowspecdefinition()" never occurs:
      // specs always carry frame arguments)
      assert("Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(p).isEmpty, q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("cal1: score AND gate from ONE tokenize pass — no join, no second explode") {
    // post-collect AQE plans print "== Final Plan ==" plus the initial
    // plan — count the explodes in the final section only
    val p = plan("cal1_score_calibration").split("== Initial Plan ==").head
    assert("Generate".r.findAllIn(p).length === 1,
      "cal1 must tokenize the corpus exactly once (shared docStats)")
    assert(!p.contains("Join"), "cal1 must not self-join the doc stats")
    // and the shared docStats does NOT tax gq1 with lr1's countDistinct:
    // column pruning drops the unused distinct aggregate (no Expand)
    val gq = graft.llm.QualityQueries.gq1(spark, dir).queryExecution
      .executedPlan.toString
    assert(!gq.contains("Expand"), "gq1 must not inherit lr1's countDistinct")
  }

  test("q17: single shuffle of the brand subset — no full-fact aggregation") {
    val p = formatted("q17_small_qty_revenue")
    // the part filter must be pushed into the part scan feeding the broadcast
    assert(p.contains("EqualTo(p_brand,Brand#1)"))
  }

  test("EVERY registered query plans without 100 TB red flags") {
    // Whole-inventory sweep of initial physical plans (no execution): no
    // unintended cartesian products and no empty-partition Window — the two
    // shapes that silently stop scaling. Queries whose tiny side is
    // DELIBERATELY cross-joined (scalar thresholds, 1-row query vectors,
    // fixed centroid lists) are allowlisted for the cartesian check only.
    // Most 1-row-stats consumers now go through ScalarSub (scalar
    // subqueries — no join node at all); what remains is genuinely
    // multi-row small-side work where the cross IS the operator.
    val intendedCross = Set(
      "s3_ann_ivf_topk",     // fixed centroid list (ivfCells assignment)
      "s5_ann_ivf_multiprobe", // same centroid assignment + 2-cell probe
      "s4_kmeans_update",    // k-centroid broadcast (assignment pass, as s3)
      "a5_log_bayes_factors",  // model×model pairs over a handful of models
      "j8_hd_pair_correlation", // pulsar-pair self-join: tens of pulsars
      "t3_token_stats",      // corpus-level scalar aggregates
      "sk2_sketch_bounds",   // 1-row exact-vs-sketch comparison
      "a15_marginalised_stat", // 1-row marginalisation constant
      "pca1_reconstruction_audit", // 4 local flag rows × 1-row exact-trace broadcast
      "pq1_product_quant")   // 1-row centroid + distance-table broadcast
    val violations = sweepPlans().flatMap {
      case (name, Left(err)) => Seq(s"$name: $err")
      case (name, Right(plan)) =>
        val p = plan.toString
        Seq(
          if ("Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(p).isDefined)
            Some("empty-partition window") else None,
          if (!intendedCross(name) &&
            (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")))
            Some("unplanned cross join") else None).flatten.map(flag => s"$name: $flag")
    }
    assert(violations.isEmpty, violations.mkString("; "))
  }

  test("no registered query's plan carries a CodegenFallback expression") {
    // The test log shows SafeProjection "falling back to interpreter mode"
    // warnings from specs that deliberately exercise interpreted parity
    // (SchemaDrift/extension suites). This sweep pins the PRODUCTION
    // surface: every registered query's physical plan must keep all its
    // expressions codegen-capable — an interpreted expression in a hot
    // loop silently costs a JIT-compiled inner loop at 100 TB.
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val bad = sweepPlans().flatMap {
      case (name, Left(err)) => Seq(s"$name: $err")
      case (name, Right(plan)) =>
        plan.flatMap(_.expressions.flatMap(_.collect {
          case e: CodegenFallback => s"$name: ${e.getClass.getSimpleName}"
        }))
    }
    assert(bad.isEmpty, bad.distinct.mkString("; "))
  }

  test("wsm1/sm2: per-group sampling is a mergeable aggregate, not a rank window") {
    // the round-3 weak rows: lang has ~5 values, (lang, source) ≤ ~25 —
    // a row_number window partitioned by them funnels the corpus into a
    // handful of tasks at 100 TB. The fix is the BottomK* aggregator
    // family; assert the window never comes back.
    for (q <- Seq("wsm1_weighted_sample", "sm2_stratified_sample")) {
      val p = plan(q)
      assert(!p.contains("windowspecdefinition"),
        s"$q plans a rank window:\n" + p.take(2000))
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate") ||
        p.contains("HashAggregate"), q)
    }
  }

  test("d2: checkpointed minhash signatures are ONE RDD reused by all consumers") {
    // d2 localCheckpoints the tokenize→shingle→dict→minhash subtree once;
    // the banding pass and BOTH signature-lookup sides must scan that same
    // materialized RDD — three scans, one RDD id. If the checkpoint were
    // dropped (or a consumer rebuilt the lineage), the corpus would be
    // re-tokenized per consumer at 100 TB.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    val df = SparkEntry.queries("d2_minhash_lsh")(spark, dir)
    df.collect() // settle AQE so query stages hold their final plans
    def expand(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: exchange.ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      p +: kids.flatMap(expand)
    }
    val sigScans = expand(df.queryExecution.executedPlan).collect {
      case r: RDDScanExec if r.output.exists(_.name == "mh0") => r.rdd.id
    }
    assert(sigScans.size >= 3,
      s"expected >=3 signature scans (bands + both lookup sides), got ${sigScans.size}")
    assert(sigScans.distinct.size === 1,
      s"signature consumers scan DIFFERENT RDDs: ${sigScans.distinct}")
  }

  test("sj1: the salted join widens the key — hot keys split across salts") {
    val p = plan("sj1_salted_join")
    assert(p.contains("__salt") || p.contains("pmod"), p.take(2000))
  }

  test("no query moves all rows to a single-partition window") {
    // spot-check the rank-based queries: their plans must not contain a
    // Window with an empty partition spec (the 100 TB red flag)
    for (q <- Seq("a12_equal_count_bins", "w3_earliest_split",
        "w4_burnin_thinning", "d2_minhash_lsh", "t4_fingerprint")) {
      val p = plan(q)
      assert(!p.contains("windowspecdefinition()"), q)
      assert(!"Window \\[[^\\]]*\\], \\[\\]".r.findFirstIn(p).isDefined, q)
    }
  }
}
