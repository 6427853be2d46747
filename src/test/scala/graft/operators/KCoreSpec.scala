package graft.operators

import graft.SparkTestBase
import org.scalacheck.Gen

class KCoreSpec extends SparkTestBase {

  /** Driver reference: synchronous peel, one round at a time. Returns the
    * per-round (round, peeled, remaining) profile. */
  private def refPeel(edges: Seq[(Long, Long)], k: Int, rounds: Int)
      : Seq[(Long, Long, Long)] = {
    var e = edges.toSet
    def deg(es: Set[(Long, Long)]): Map[Long, Int] =
      es.toSeq.flatMap(p => Seq(p._1, p._2)).groupBy(identity).view.mapValues(_.size).toMap
    var d = deg(e)
    var prev = d.size.toLong
    val out = Seq.newBuilder[(Long, Long, Long)]
    for (r <- 1 to rounds) {
      val keep = d.collect { case (x, dg) if dg >= k => x }.toSet
      val cur = keep.size.toLong
      e = e.filter(p => keep(p._1) && keep(p._2))
      d = deg(e)
      out += ((r.toLong, prev - cur, cur))
      prev = cur
    }
    out.result()
  }

  /** 12 random simple graphs on up to 15 vertices, none empty. */
  private def randomGraphs: Seq[Seq[(Long, Long)]] = {
    val gen = for {
      n <- Gen.choose(4, 14)
      m <- Gen.choose(3, 30)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong); b <- Gen.choose(0L, n.toLong) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    Gen.listOfN(12, gen).sample.get.filter(_.nonEmpty)
  }

  private def runSpark(edges: Seq[(Long, Long)], k: Int, rounds: Int): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    KCore.peelRounds(edges.toDF("u", "v"), k, rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  test("triangle with tail: peels tail inward, converges to the triangle") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val rows = runSpark(edges, k = 2, rounds = 4)
    // round 1 drops 5 (deg 1); round 2 drops the now-isolated-enough 4;
    // rounds 3-4 peel nothing: the 2-core {1,2,3} is reached
    assert(rows === Seq((1L, 1L, 4L), (2L, 1L, 3L), (3L, 0L, 3L), (4L, 0L, 3L)))
  }

  test("profile matches the driver reference on random graphs") {
    for (edges <- randomGraphs) {
      val want = refPeel(edges, k = 2, rounds = 5)
      val got = runSpark(edges, k = 2, rounds = 5)
      assert(got === want, s"edges=$edges")
    }
  }

  test("kc1 path (checkpointed input, given degrees) matches the reference") {
    import spark.implicits._
    for (edges <- randomGraphs) {
      val want = refPeel(edges, k = 2, rounds = 5)
      val e = edges.toDF("u", "v").localCheckpoint()
      val deg = KCore.degrees(e).localCheckpoint()
      val nVertices = edges.flatMap(p => Seq(p._1, p._2)).distinct.size.toLong
      val got = KCore.peelRounds(e, k = 2, rounds = 5, nVertices = Some(nVertices),
          inputCheckpointed = true, deg0 = Some(deg))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === want, s"edges=$edges")
    }
  }

  test("bounded peel that reaches a zero-peel round equals the true k-core") {
    // K4 plus two pendant chains: fixed point is K4 (3-core), reached well
    // inside the bound — the bounded operator's semantics coincide with
    // run-to-fixpoint exactly when the profile shows a zero-peel round.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val rows = runSpark(edges, k = 3, rounds = 6)
    assert(rows.last._2 == 0L && rows.last._3 == 4L)
  }

  test("int32 edge columns survive the local tail finish (testdata drift)") {
    // key columns are Integral-class under the testdata drift contract —
    // a regenerated parquet may ship int32 where int64 shipped before.
    // The local finish reads primitive longs, so the operator must
    // normalize at the boundary; this pins the int input path end-to-end
    // (the tiny graph is under the tail-finish guard from round 1).
    import spark.implicits._
    val edges = Seq((1, 2), (2, 3), (1, 3), (3, 4), (4, 5)).toDF("u", "v")
    val rows = KCore.peelRounds(edges, k = 2, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = refPeel(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)), k = 2, rounds = 4)
    assert(rows === want)
  }

  test("a round that peels every survivor doesn't NPE the edge-bound guard") {
    // perfect matching, k=2: all degrees are 1, so round 1 eliminates the
    // whole graph — keep is EMPTY, sum(dg) aggregates to null, and the
    // r8 degree-sum guard must coalesce instead of getLong-ing the null
    // (0 survivors <= LocalFinishNodes, so the guard branch IS taken)
    import spark.implicits._
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("u", "v")
    val rows = KCore.peelRounds(edges, k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, 4L, 0L), (2L, 0L, 0L), (3L, 0L, 0L)))
  }
}
