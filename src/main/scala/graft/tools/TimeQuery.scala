package graft.tools

/** Ad-hoc single-query timer: best-of-3 fresh plans per directory, the
  * ScalingProbe protocol without the 24-query sweep. For iterating on one
  * operator's scale posture before paying for a full SCALING.md refresh.
  * Prints each timed iteration's seconds and row count, then the best.
  * For the query's physical plan, use ExplainDump.
  * Usage: runMain graft.tools.TimeQuery <query> <dir> [dir2 ...]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val spark = graft.core.GraftSession.local()
    val fn = graft.SparkEntry.queries(name)
    args.drop(1).foreach { dir =>
      fn(spark, dir).collect() // warm-up: codegen + memoized intermediates
      val best = (1 to 3).map { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, dir).collect().length
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[time] $name $dir iter $i: $sec%.3f s ($n rows)")
        sec
      }.min
      println(f"[time] $name $dir $best%.3f s")
    }
    spark.stop()
  }
}
