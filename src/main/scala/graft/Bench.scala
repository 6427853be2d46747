package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds. `collect()` forces the
  * full plan; result sets are aggregate-sized so driver transfer is noise.
  *
  * HOST-STEAL-PROOF PROTOCOL (r6 verdict directive 1, hardened r11 per the
  * r10 verdict). The r6 round artifact was taken during sustained external
  * CPU steal and overstated the engine 1.6× (f4 22.95s vs a calm-host
  * 0.49s); best-of-3 with spread-retry could not save it because the steal
  * episode outlasted the retries. The fix is to MEASURE the steal directly
  * instead of inferring it from spread, with two independent detectors:
  *
  *  1. SENTINEL (r6): a fixed single-threaded CPU sentinel (pure JVM
  *     xorshift loop, ~10 ms, deterministic work) brackets every timed
  *     sample. On an uncontended host the sentinel's wall time is its CPU
  *     time; under steal it inflates by exactly the steal factor. A sample
  *     only counts as CLEAN when both its pre- and post-sentinels land
  *     within 2× of the calm baseline (min of 9 calibration runs after JIT
  *     warm-up); hot pre-sentinels cause a short back-off instead of
  *     burning a doomed sample.
  *  2. TASK CPU/WALL (r11, verdict directive 2): the sentinel is blind to
  *     steal BURSTS that land entirely INSIDE a query sample (both driver
  *     bench runs of r10 were eaten this way — 179/220 queries read >10%
  *     inflated with 0 sentinel flags). A SparkListener accumulates every
  *     task's executorRunTime / executorCpuTime / jvmGCTime between
  *     samples (listener bus drained before reading); external steal
  *     deschedules task threads, so aggregate cpu+gc falls far below
  *     aggregate wall. A sample whose tasks ran ≥ [[CpuFloorMs]] of
  *     aggregate wall with (cpu+gc)/wall < [[CpuRatioThresh]] AND whose
  *     wall time exceeds the query's best-so-far by [[CpuSlowFactor]] is
  *     flagged STOLEN and re-sampled, exactly like a hot sentinel (the
  *     slow-factor guard keeps legitimately I/O-bound low-ratio queries
  *     from starving — see the threshold scaladoc). The r10 failure mode
  *     (uniform ~1.7× inflation ⇒ ratio ≈ 0.6 on EVERY query) is caught
  *     at run level instead: a run whose MEDIAN per-query min-ratio falls
  *     below [[CpuRunMedianThresh]] refuses the canonical artifact.
  *
  * If a query exhausts its attempt budget without 3 clean samples (even
  * partially — a best-of-1 is not a best-of-3) it is flagged, and a run
  * with any flagged query REFUSES to write the canonical BENCH_DETAIL
  * artifact (writes `<name>.contended` instead) so a stolen-host run can
  * never masquerade as the round's record.
  *
  * OUTPUT DURABILITY (r11, same directive): the driver captures only the
  * TAIL of stdout, and r10's single 8 KB per_query line was truncated out
  * of it (PERF_r10.per_query came back empty). The per-query map is now
  * printed as COMPACT CHUNK LINES immediately before the final `total`
  * line — each chunk is a complete JSON object small enough to survive
  * tail-capture, carrying `part`/`parts` so any consumer can merge the
  * subset that survives. The full map is additionally persisted to
  * BENCH_DETAIL_r<NN>.json as before. Timing methodology (fresh DataFrame
  * per run, collect-timed, best-of-3 clean samples) is UNCHANGED from
  * r6-r10 — numbers stay comparable across rounds.
  */
object Bench {

  // ---- sentinel -----------------------------------------------------
  // ~10 ms of single-threaded, allocation-free, JIT-stable integer work.
  // Wall time == CPU time on a calm host; any multi-ms inflation is the
  // OS descheduling this thread — i.e. external contention, the exact
  // signal that poisons the query timings.
  private val SentinelIters = 8000000
  @volatile private var blackhole = 0L
  private def sentinelSec(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < SentinelIters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    blackhole ^= x
    (System.nanoTime() - t0) / 1e9
  }
  /** Calm-host sentinel floor: warm the JIT, then min-of-9 (min, not
    * median — the floor is the uncontended truth; every excursion above
    * it is noise we want to detect, not average in). */
  private def calibrateSentinel(): Double = {
    (1 to 4).foreach(_ => sentinelSec())
    (1 to 9).map(_ => sentinelSec()).min
  }

  // ---- task cpu/wall discriminator ----------------------------------
  /** Per-SAMPLE steal threshold: flag when aggregate (cpu + gc) over a
    * sample's tasks falls below this fraction of aggregate task wall AND
    * the sample is ≥ [[CpuSlowFactor]]× the query's fastest sample so
    * far. The second condition is what makes the check safe: some queries
    * are LEGITIMATELY low-ratio (q2 at sf1 reads cold parquet from /tmp —
    * ratio ≈ 0.21 on every sample, all within 0.18-0.29 s; flagging them
    * starved the query of clean samples and refused two otherwise-fine
    * runs), and a steal-inflated sample is by definition SLOWER than the
    * query's true time — a low-ratio sample that ties the best is not a
    * measurement hazard (best-of keeps the min regardless). Calibrated on
    * calm full runs (r11): per-query MIN ratios spread 0.57-0.98 for 90%
    * of queries at sf0.1; the combined condition costs <1% of samples a
    * re-run and cannot starve a uniformly-low-ratio query. Samples with
    * under [[CpuFloorMs]] of aggregate task wall are never flagged —
    * sub-floor queries are scheduler-bound and their ratio is noise. */
  private val CpuRatioThresh = 0.45
  private val CpuSlowFactor = 1.25
  private val CpuFloorMs = 150L
  /** RUN-level uniform-steal threshold: the r10 driver-run failure mode
    * was ~1.7× inflation across 179/220 queries (per-sample ratio ≈ 0.6 —
    * above any safe per-sample threshold, invisible to the sentinel). A
    * uniform episode drags the MEDIAN of per-query min-ratios down from
    * the calm ≈0.87 toward ≈0.55, so a run whose median lands below this
    * is declared host-contended as a whole and refuses the canonical
    * artifact. */
  private val CpuRunMedianThresh = 0.70

  private class TaskCpuListener extends org.apache.spark.scheduler.SparkListener {
    private val runMs = new java.util.concurrent.atomic.AtomicLong
    private val cpuNs = new java.util.concurrent.atomic.AtomicLong
    private val gcMs = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }
    def reset(): Unit = { runMs.set(0); cpuNs.set(0); gcMs.set(0) }
    /** (aggregate task wall ms, (cpu+gc)/wall ratio — 1.0 when idle). */
    def read(): (Long, Double) = {
      val rm = runMs.get
      val ratio =
        if (rm <= 0) 1.0 else (cpuNs.get / 1e6 + gcMs.get) / rm.toDouble
      (rm, ratio)
    }
  }

  private case class QResult(name: String, best: Double, worst: Double,
      cleanSamples: Int, stolen: Int, cpuStolen: Int, ratioMin: Double,
      err: Option[String])

  /** Warm the JVM/codegen path and the OS page cache for EVERY base table
    * once (one cheap query per table family) so per-query numbers measure
    * the engine, not first-call classloading or cold parquet reads. */
  val warmUp: Seq[String] = Seq(
    "q1_pricing_summary", // lineitem
    "q13_customer_distribution", // orders + customer
    "q5_local_supplier", // supplier + nation + region
    "q19_disjunctive_revenue", // part
    "t3_token_stats", // documents
    "s1_ann_brute_topk", // embeddings
    "a4_model_counts") // events

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local()
    val cpuListener = new TaskCpuListener
    spark.sparkContext.addSparkListener(cpuListener)
    warmUp.foreach { name =>
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).collect() catch { case _: Throwable => () }
    }

    val sentinelBase = calibrateSentinel()
    // 2× floor, with a 5 ms absolute allowance so scheduler jitter on a
    // sub-10ms sentinel can't false-positive the whole run.
    val sentinelThresh = math.max(2.0 * sentinelBase, sentinelBase + 0.005)

    // Per query: collect up to CleanTarget steal-vetted samples. Each timed
    // run gets a FRESH DataFrame (full analysis + optimization + execution;
    // reusing one DataFrame would let AQE serve later runs from
    // materialized shuffle stages). The duplicate-plan codegen cache hit
    // between runs absorbs Janino/JIT warmup, which otherwise dominates
    // sub-second queries (observed 5-15s first-run stalls).
    val CleanTarget = 3   // min over 3 vetted samples
    val MaxRuns = 6       // query executions, vetted or not
    val MaxPreWaits = 10  // hot pre-sentinel back-offs (500 ms each)
    val results = SparkEntry.registry.sortBy(_.name).map { q =>
      val name = q.name
      var err: Option[String] = None
      def run(): Double = {
        val t0 = System.nanoTime()
        try { q.run(spark, sfDir).collect() } catch { case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      var clean = List.empty[Double]
      var all = List.empty[Double]
      var stolen = 0
      var cpuStolen = 0
      var ratioMin = Double.NaN
      var preWaits = 0
      var runs = 0
      while (clean.size < CleanTarget && runs < MaxRuns && err.isEmpty) {
        if (sentinelSec() > sentinelThresh) {
          stolen += 1; preWaits += 1
          if (preWaits > MaxPreWaits) { runs = MaxRuns } // give up vetting
          else Thread.sleep(500)
        } else {
          // settle the listener bus so a prior sample's stragglers can't
          // bleed into this sample's cpu/wall counters, then zero them
          try org.apache.spark.sql.GraftSqlBridge.waitForListenerBus(spark)
          catch { case _: Throwable => () }
          cpuListener.reset()
          val t = run()
          try org.apache.spark.sql.GraftSqlBridge.waitForListenerBus(spark)
          catch { case _: Throwable => () }
          val (taskWallMs, ratio) = cpuListener.read()
          // suspect = low cpu share AND slower than the query's own best
          // (computed against samples seen BEFORE this one — a new minimum
          // is never suspect, whatever its ratio)
          val minBefore = if (all.isEmpty) Double.MaxValue else all.min
          val cpuSuspect = taskWallMs >= CpuFloorMs &&
            ratio < CpuRatioThresh && t > minBefore * CpuSlowFactor
          if (taskWallMs >= CpuFloorMs &&
              (ratioMin.isNaN || ratio < ratioMin)) ratioMin = ratio
          runs += 1
          all ::= t
          if (cpuSuspect) { cpuStolen += 1; stolen += 1 }
          else if (sentinelSec() <= sentinelThresh) clean ::= t
          else stolen += 1
        }
      }
      // A fully-stolen vetting window must still time the query once —
      // a contaminated number flagged contended beats a NaN in the JSON.
      if (all.isEmpty && err.isEmpty) all ::= run()
      val pool = if (clean.nonEmpty) clean else all
      val best = if (pool.nonEmpty) pool.min else Double.NaN
      val worst = if (all.nonEmpty) all.max else Double.NaN
      QResult(name, best, worst, clean.size, stolen, cpuStolen, ratioMin, err)
    }

    // refusal criterion = the documented protocol: a query that exhausted
    // its budget without CleanTarget steal-free samples taints the run
    // (clean_samples in the artifact shows HOW under-sampled each one was)
    val contended = results
      .filter(r => r.cleanSamples < CleanTarget && r.err.isEmpty).map(_.name)
    val ratioMins = results.map(_.ratioMin).filterNot(_.isNaN).sorted
    val ratioMedian =
      if (ratioMins.isEmpty) 1.0 else ratioMins(ratioMins.size / 2)
    val uniformSteal = ratioMedian < CpuRunMedianThresh
    val hostContended = contended.nonEmpty || uniformSteal
    // an erroring query's "best" is its time-to-failure, so a run with any
    // error is no record either (same refusal path as contention)
    val nErr = results.count(_.err.isDefined)

    val stolenMap = results.filter(_.stolen > 0)
      .map(r => "\"" + r.name + "\":" + r.stolen).mkString("{", ",", "}")
    val cpuStolenMap = results.filter(_.cpuStolen > 0)
      .map(r => "\"" + r.name + "\":" + r.cpuStolen).mkString("{", ",", "}")
    val total = results.map(_.best).sum
    // Per-query seconds in COMPACT CHUNKS adjacent to the short machine-read
    // `total` line: the driver tail-truncates long output, and r10's single
    // 8 KB per_query line was cut mid-map (PERF_r10.per_query = {}). Chunks
    // keep every line well under 1 KB so the final ones always survive; the
    // full map lives in BENCH_DETAIL_r<NN>.json regardless.
    val entries = results.map(r => "\"" + r.name + "\":" + f"${r.best}%.3f")
    val ChunkSize = 20
    val chunks = entries.grouped(ChunkSize).toSeq
    println(f"""{"metric":"steal_guard","sentinel_base_sec":$sentinelBase%.4f,"stolen_samples":$stolenMap,"cpu_stolen_samples":$cpuStolenMap,"cpu_ratio_median":$ratioMedian%.3f,"uniform_steal":$uniformSteal,"contended_queries":${contended.size}}""")
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"per_query","part":${i + 1},"parts":${chunks.size},"unit":"sec","queries":${c.mkString("{", ",", "}")},"sf":"$sfDir"}""")
    }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"sf":"$sfDir","host_contended":$hostContended,"n_err":$nErr}""")

    // Full per-query artifact, persisted to the repo so driver stdout
    // tail-truncation can never lose entries (round-3/4 lesson: the
    // per_query map survived only partially in BENCH_r{N}.json). One row
    // per query with best/worst seconds, steal-vetting stats and error
    // status; the round number comes from SPARK_GRAFT_ROUND or is
    // inferred from the highest committed BENCH_r*.json.
    val round = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt).getOrElse(
      Option(new java.io.File(".").listFiles()).toSeq.flatten
        .flatMap(f => "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(f.getName)
          .map(_.group(1).toInt))
        .foldLeft(0)(math.max) + 1)
    val detail = results.map { r =>
      val e = r.err.map(m => Verify.jsonQ(m)).getOrElse("null")
      val rm = if (r.ratioMin.isNaN) "null" else f"${r.ratioMin}%.3f"
      f"""  "${r.name}": {"best_sec": ${r.best}%.3f, "worst_sec": ${r.worst}%.3f, "clean_samples": ${r.cleanSamples}, "stolen": ${r.stolen}, "cpu_stolen": ${r.cpuStolen}, "cpu_ratio_min": $rm, "err": $e}"""
    }.mkString("{\n", ",\n", "\n}")
    val payload =
      f"""{"sf": "$sfDir", "n_queries": ${results.size}, "total_best_sec": $total%.3f, "protocol": "sentinel+taskcpu-vetted best-of-$CleanTarget", "sentinel_base_sec": $sentinelBase%.4f, "cpu_ratio_thresh": $CpuRatioThresh, "cpu_ratio_median": $ratioMedian%.3f, "uniform_steal": $uniformSteal, "host_contended": $hostContended, "n_err": $nErr, "contended_queries": ${contended.map(Verify.jsonQ).mkString("[", ",", "]")}, "queries": $detail}"""
    // Refusal path: a run with errors or a contended host may not become
    // the round's record.
    val suffix =
      if (nErr > 0) ".json.err"
      else if (hostContended) ".json.contended"
      else ".json"
    // Never overwrite an existing record: a repeat run of the same round
    // goes to the first free BENCH_DETAIL_rNN.<k>.json.
    val base = f"BENCH_DETAIL_r$round%02d"
    val target = (Iterator.single(base + suffix) ++
      Iterator.from(1).map(k => s"$base.$k$suffix"))
      .find(f => !new java.io.File(f).exists).get
    if (target != base + suffix)
      System.err.println(s"[bench] ${base + suffix} exists; writing $target")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(target), payload)
    if (nErr > 0)
      System.err.println(s"[bench] $nErr queries FAILED " +
        s"(${results.filter(_.err.isDefined).map(_.name).mkString(", ")}); " +
        s"artifact diverted to $target")
    else if (hostContended)
      System.err.println(s"[bench] HOST CONTENDED — ${contended.size} queries never got a " +
        s"steal-free sample; artifact diverted to $target")
    spark.stop()
  }
}
