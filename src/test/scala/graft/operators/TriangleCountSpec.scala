package graft.operators

import graft.SparkTestBase

class TriangleCountSpec extends SparkTestBase {

  private def stats(edges: Seq[(Long, Long)]) = {
    val session = spark
    import session.implicits._
    TriangleCount.run(edges.toDF("u", "v")).head()
  }

  test("K4: 4 triangles, clustering 1.0") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val r = stats(k4)
    assert(r.getAs[Long]("n_nodes") == 4)
    assert(r.getAs[Long]("n_edges") == 6)
    assert(r.getAs[Long]("n_wedges") == 12) // 4 nodes × C(3,2)
    assert(r.getAs[Long]("n_triangles") == 4)
    assert(r.getAs[Double]("clustering") == 1.0)
  }

  test("path graph: wedges but no triangles") {
    val r = stats(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(r.getAs[Long]("n_triangles") == 0)
    assert(r.getAs[Long]("n_wedges") == 3)
    assert(r.getAs[Double]("clustering") == 0.0)
  }

  test("triangle with a pendant: exactly one, counted once") {
    // 1-2-3 triangle, 4 hanging off 3 — the pendant creates wedges through
    // node 3 but no extra triangle, and the hub orientation must not
    // double-count the triangle
    val r = stats(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(r.getAs[Long]("n_triangles") == 1)
    assert(r.getAs[Long]("n_wedges") == 2 + 3) // nodes 1,2: 1 each; node 3: C(3,2)
  }

  test("two triangles sharing an edge") {
    val r = stats(Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L)))
    assert(r.getAs[Long]("n_triangles") == 2)
  }

  test("random graphs match the brute-force local count (ScalaCheck)") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    val genEdges = Gen.chooseNum(1, 25).flatMap(m =>
      Gen.listOfN(m, Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 9L))))
    val prop = forAll(genEdges) { raw =>
      // canonicalize to a simple undirected graph (the operator's contract)
      val es = raw.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.distinct
      es.isEmpty || {
        val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
        val nodes = adj.keys.toSeq.sorted
        val brute = (for {
          i <- nodes; j <- nodes if j > i && adj(i)(j)
          k <- nodes if k > j && adj(i)(k) && adj(j)(k)
        } yield 1).size.toLong
        stats(es).getAs[Long]("n_triangles") == brute
      }
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(20))
    assert(r.passed, r.status.toString)
  }

  test("orientation is acyclic: skewed star + triangle counts exactly once") {
    // hub 1 with high degree; triangle (1,2,3). Degree orientation directs
    // both triangle edges AWAY from the low-degree endpoints into the hub,
    // wedge work lands on the small nodes, and the count stays exact.
    val star = (4L to 20L).map(i => (1L, i))
    val r = stats(star ++ Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(r.getAs[Long]("n_triangles") == 1)
  }

  test("int32 edge columns count correctly (testdata drift)") {
    // the sorted-intersect adjacency path needs ARRAY<BIGINT>; Integral-
    // class drift may ship int32 keys, which the operator must normalize
    // at the boundary (the old wedge self-join was type-agnostic)
    import spark.implicits._
    val r = TriangleCount.run(
      Seq((1, 2), (2, 3), (1, 3), (3, 4)).toDF("u", "v")).head()
    assert(r.getAs[Long]("n_triangles") == 1)
  }

  test("above the 500k dial: 100,000 disjoint K4s, o ⋈ adj on src with no exchange") {
    import org.apache.spark.sql.functions.{array, col, explode, lit, struct}
    // 600,000 edges: past the oriented-edge dial, so the pinned arm runs
    val pairs = for (i <- 0 to 3; j <- (i + 1) to 3) yield struct(lit(i).as("i"), lit(j).as("j"))
    val edges = spark.range(0L, 100000L)
      .select((col("id") * 4).as("base"), explode(array(pairs: _*)).as("p"))
      .select((col("base") + col("p.i")).as("u"), (col("base") + col("p.j")).as("v"))
    val out = TriangleCount.run(edges)
    val r = out.collect().head
    assert(r.getAs[Long]("n_nodes") == 400000L)
    assert(r.getAs[Long]("n_edges") == 600000L)
    assert(r.getAs[Long]("n_wedges") == 1200000L)
    assert(r.getAs[Long]("n_triangles") == 400000L)
    assert(r.getAs[Double]("clustering") == 1.0)
    assert(joinSideExchanges(out, "src") == Seq((0, 0)))
  }
}
