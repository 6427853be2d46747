package graft.operators

import graft.SparkTestBase

/** Iterative operators must RELEASE superseded per-round checkpoint blocks
  * (GraftSqlBridge.unpersistCheckpoint) instead of leaving them for the
  * GC-driven ContextCleaner — on a long-lived session the lag accumulates
  * into BlockManager pressure that degrades later queries (a 215-query
  * bench JVM measured bfs1 at 5.7s late in the run vs 1.7s fresh). */
class CheckpointHygieneSpec extends SparkTestBase {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("ConnectedComponents keeps only the final labels checkpoint") {
    val session = spark
    import session.implicits._
    // long chain → many super-rounds → many interior checkpoints
    val edges = (1L until 2000L).map(i => (i, i + 1)).toDF("a", "b")
    val before = persisted
    val comp = ConnectedComponents.run(edges)
    assert(comp.agg(org.apache.spark.sql.functions.min("root")).head.getLong(0) == 1L)
    val leaked = (persisted -- before).size
    // final labels checkpoint only (sym and every interior round released);
    // without the release this is ~2 per super-round plus sym
    assert(leaked <= 2, s"leaked $leaked checkpoint RDDs")
  }

  test("Bfs keeps only the per-level checkpoints that back its result") {
    val session = spark
    import session.implicits._
    val edges = (1L until 500L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("a", "b")
    val sources = Seq(1L).toDF("v")
    val before = persisted
    val lv = Bfs.levels(edges, sources, maxDepth = 6)
    assert(lv.count() == 7)
    val leaked = (persisted -- before).size
    // the edge checkpoint is released; what stays is exactly the 7 level
    // checkpoints the returned union reads (the old shape additionally
    // held e plus a full visited COPY per round — 14 block sets)
    assert(leaked <= 7, s"leaked $leaked checkpoint RDDs")
  }

  test("Bfs.levelsBipartite releases the edge checkpoint, keeps levels") {
    val session = spark
    import session.implicits._
    // bipartite chain: left i → right i and right i → left i+1 (as two
    // directed left→right edges over disjoint id spaces)
    val edges = (1L until 300L).flatMap(i =>
      Seq((2 * i, 2 * i + 1), (2 * i + 2, 2 * i + 1))).toDF("a", "b")
    val sources = Seq(2L).toDF("v")
    val before = persisted
    val lv = Bfs.levelsBipartite(edges, sources, maxDepth = 6)
    assert(lv.count() == 7)
    val leaked = (persisted -- before).size
    assert(leaked <= 7, s"leaked $leaked checkpoint RDDs")
  }

  test("KCore peelRounds releases every round's edges and survivor sets") {
    val session = spark
    import session.implicits._
    // path graph peels fully at k=2 over several rounds
    val edges = (1L until 200L).map(i => (i, i + 1)).toDF("u", "v")
    val before = persisted
    val prof = KCore.peelRounds(edges, k = 2, rounds = 8)
    assert(prof.count() == 8)
    val leaked = (persisted -- before).size
    assert(leaked <= 1, s"leaked $leaked checkpoint RDDs")
  }

  private def pinFixture = {
    val session = spark
    import session.implicits._
    session.range(0L, 20000L).select(($"id" % 997).as("a"), ($"id" % 13).as("b"), $"id".as("c"))
  }

  test("pinnedCheckpoint: every row sits in the partition its key hashes to") {
    import org.apache.spark.sql.GraftSqlBridge.{pinnedCheckpoint, unpersistCheckpoint}
    import org.apache.spark.sql.functions.{col, hash, lit, pmod, spark_partition_id}
    for (cols <- Seq(Seq("a"), Seq("a", "b"))) {
      val pin = pinnedCheckpoint(pinFixture, cols, 8)
      val misplaced = pin.filter(
        pmod(hash(cols.map(col): _*), lit(8)) =!= spark_partition_id()).count()
      assert(misplaced == 0L && pin.count() == 20000L, cols.mkString(", "))
      unpersistCheckpoint(pin)
    }
  }

  test("pinnedCheckpoint keeps the checkpoint's size estimate") {
    import org.apache.spark.sql.GraftSqlBridge.{pinnedCheckpoint, unpersistCheckpoint}
    val df = pinFixture
    val plain = df.repartition(8, df("a")).localCheckpoint()
    val pin = pinnedCheckpoint(df, Seq("a"), 8)
    def size(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size(pin) == size(plain) && size(plain) < BigInt(Long.MaxValue))
    unpersistCheckpoint(plain); unpersistCheckpoint(pin)
  }

  test("pinnedCheckpoint: a re-pinned aggregate and a join of two pins need no exchange") {
    import org.apache.spark.sql.GraftSqlBridge.{pinnedCheckpoint, unpersistCheckpoint}
    import org.apache.spark.sql.functions.{col, count, lit}
    val pin = pinnedCheckpoint(pinFixture, Seq("a"), 8)
    val agg = pin.groupBy(col("a")).agg(count(lit(1)).as("n"))
    assert(exchanges(agg.repartition(8, col("a"))) == 0)
    val repin = pinnedCheckpoint(agg, Seq("a"), 8)
    val joined = pin.join(repin.hint("shuffle_hash"), "a")
    assert(joined.count() == 20000L)
    assert(exchanges(joined) == 0 && joinSideExchanges(joined, "a") == Seq((0, 0)))
    unpersistCheckpoint(pin); unpersistCheckpoint(repin)
  }
}
