package graft.tools

/** Ad-hoc query timer: best-of-3 fresh plans per query and directory, the
  * ScalingProbe protocol without the 24-query sweep. For iterating on one
  * operator's scale posture before paying for a full SCALING.md refresh,
  * or for timing a set of queries in one JVM per side of an A/B.
  * Prints each timed iteration's seconds and row count, then the best.
  * For the query's physical plan, use ExplainDump.
  * Usage: runMain graft.tools.TimeQuery <query[,query...]> <dir> [dir2 ...]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    // an unknown name fails before the session starts or any query runs
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val spark = graft.core.GraftSession.local()
    for (name <- names; dir <- args.drop(1)) {
      val fn = graft.SparkEntry.queries(name)
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
