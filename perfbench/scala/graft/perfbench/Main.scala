package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Closed-loop benchmark harness: one client on one `local[cpus]` session;
  * each iteration starts when the previous one has finished.
  *
  *  1. Set-up, timed as `setup_s`: create the session in this fresh JVM and
  *     run the first (cold) iteration — what a one-shot job pays. It is
  *     measured once per run: a second session in the same JVM starts warm,
  *     and its set-up time is a different, far noisier number.
  *  2. `workload.warmUps` more untimed iterations (none on pta, whose
  *     iterations are long). Iteration times keep falling for tens of
  *     iterations while the JIT compiles the engine's planning code; the
  *     warm-ups move the timed window off the steepest part of that curve.
  *     Then the output checks of all set-up and warm-up iterations, untimed.
  *  3. Timed iterations until `seconds` have passed and at least `MinIters`
  *     have run, each checked after its time is taken. With `--trace 1`,
  *     every other iteration is traced, the rest are timed plain to give the
  *     tracing overhead.
  *  4. One result line, prefixed `PERFBENCH `, as JSON.
  *
  * Usage: Main --workload W --work DIR --seed N --seconds S --trace 0|1
  *   --trace-out FILE --cpus N --llm-files A.scala,B.scala [--corrupt 0|1]
  */
object Main {
  /** At least this many timed iterations, so the median never rests on
    * fewer samples; memory is sampled after exactly this many, so it does
    * not depend on how many fit into `seconds`. */
  val MinIters = 3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap still reachable after a full collection, in MB. */
  private def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val workload = Workload(name, work, opt("seed").toLong)
    workload.corrupt = opt.getOrElse("corrupt", "0") == "1"
    val tel = new Telemetry
    /** Source files of the llm layer (graft.llm, graft.text): RDDs created
      * from them are the layer's memoized intermediates. */
    val llmFiles = opt("llm-files").split(",").toSet

    var attempted = 0L
    var failed = 0L
    val failures = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
    /** Run iteration `it`; its untimed output check, or None if it threw. */
    def iteration(spark: SparkSession, it: Int): Option[() => Seq[(String, Boolean)]] = {
      try Some(tel.iteration(it)(workload.run(spark, tel, it)))
      catch {
        case e: Exception =>
          attempted += 1; failed += 1; failures(s"error:${e.getClass.getSimpleName}") += 1
          System.err.println(s"[perfbench] iteration $it failed: $e")
          e.printStackTrace()
          None
      }
    }
    def check(c: Option[() => Seq[(String, Boolean)]]): Unit =
      for (f <- c; (op, ok) <- f()) {
        attempted += 1
        if (!ok) { failed += 1; failures(op) += 1 }
      }

    // 1. set-up
    val t0 = System.nanoTime
    val spark = GraftSession.local(cpus)
    val sessionMs = (System.nanoTime - t0) / 1e6
    tel.attach(spark)
    val untimed = mutable.ArrayBuffer(iteration(spark, -1))
    val setupS = (System.nanoTime - t0) / 1e9

    // 2. warm-ups, then the checks of every untimed iteration
    val warmS = mutable.ArrayBuffer[Double]()
    for (k <- 2 to workload.warmUps + 1) {
      val t = System.nanoTime
      untimed += iteration(spark, -k)
      warmS += (System.nanoTime - t) / 1e9
    }
    untimed.foreach(check)

    // 3. timed iterations
    val plainS, tracedS, cpuS, llmCacheMb = mutable.ArrayBuffer[Double]()
    var retainedMb = Double.NaN
    var storageMb = Double.NaN
    val start = System.nanoTime
    var it = 0
    while (it < MinIters || System.nanoTime - start < seconds * 1e9) {
      tel.tracing = trace && it % 2 == 0
      tel.drain()
      val cpu0 = tel.cpuNs.get
      val t0 = System.nanoTime
      val checks = iteration(spark, it)
      val dt = (System.nanoTime - t0) / 1e9
      tel.drain()
      (if (tel.tracing) tracedS else plainS) += dt
      if (!tel.tracing) cpuS += (tel.cpuNs.get - cpu0) / 1e9
      else llmCacheMb += tel.storageMb(llmFiles)
      check(checks)
      if (tel.tracing) tel.endIteration()
      tel.tracing = false
      it += 1
      if (it == MinIters) {
        retainedMb = retainedHeapMb()
        storageMb = tel.storageMb()
      }
    }

    // 4. result
    val metrics = mutable.LinkedHashMap[String, (Double, String, Int)]()
    if (!trace) {
      metrics("setup_s") = (setupS, "s", 1)
      metrics("job_p50_s") = (median(plainS.toSeq), "s", plainS.size)
      metrics("job_cpu_s") = (median(cpuS.toSeq), "s", cpuS.size)
      metrics("retained_mb") = (retainedMb, "MB", 1)
    } else {
      val layer = tel.layerMetrics()
      val units = (k: String) =>
        if (k.endsWith("_ms")) "ms" else if (k.endsWith("_mb")) "MB"
        else if (k.endsWith("_frac") || k.endsWith("_skew")) "ratio" else "count"
      for ((k, v) <- layer.toSeq.sortBy(_._1)) metrics(k) = (v, units(k), tracedS.size)
      metrics("llm.cache_mb") = (median(llmCacheMb.toSeq), "MB", llmCacheMb.size)
      metrics("core.session_ms") = (sessionMs, "ms", 1)
      metrics("tracing.overhead_frac") =
        (median(tracedS.toSeq) / median(plainS.toSeq) - 1.0, "ratio", tracedS.size)
      Files.createDirectories(Paths.get(opt("trace-out")).getParent)
      Files.writeString(Paths.get(opt("trace-out")),
        (tel.spanLines() :+ Json.obj(Seq("workload" -> name,
          "metrics" -> metrics.map { case (k, (v, _, _)) => k -> v }.toMap))).mkString("", "\n", "\n"))
    }
    spark.stop()

    for ((k, (v, unit, n)) <- metrics) println(f"$k%-28s $v%14.4f $unit%-6s samples=$n")
    println(s"session creation: $sessionMs ms; " +
      s"RDD storage after $MinIters timed iterations: $storageMb MB")
    println(s"set-up s: $setupS; warm-up iterations s: ${warmS.mkString(", ")}")
    println(s"iterations s: plain ${plainS.mkString(", ")}; traced ${tracedS.mkString(", ")}; " +
      s"executor cpu s: ${cpuS.mkString(", ")}")
    println("PERFBENCH " + Json.obj(Seq(
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toMap,
      "iterations" -> (plainS.size + tracedS.size),
      "metrics" -> metrics.map { case (k, (v, u, n)) =>
        k -> Map("value" -> v, "unit" -> u, "samples" -> n) }.toMap)))
  }
}
