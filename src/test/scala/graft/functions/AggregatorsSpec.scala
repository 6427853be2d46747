package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions.udaf
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => SCTest}

class AggregatorsSpec extends SparkTestBase {

  test("MisraGries keeps every item with count > n/(k+1) (exact-stream run)") {
    val a = new Aggregators.MisraGries(3)
    // 100×"a", 80×"b", 10 singletons: n=190, n/(k+1)=47.5 → a and b must survive
    val stream = List.fill(100)("a") ++ List.fill(80)("b") ++
      (1 to 10).map(i => s"x$i")
    val keys = a.finish(stream.foldLeft(a.zero)(a.reduce)).toSet
    assert(keys.contains("a") && keys.contains("b"))
  }

  test("MisraGries buffer never exceeds k entries and merge preserves the guarantee") {
    val k = 4
    val a = new Aggregators.MisraGries(k)
    val tokGen = Gen.frequency((8, Gen.const("hot")), (4, Gen.const("warm")),
      (1, Gen.oneOf("c", "d", "e", "f", "g", "h")))
    val gen = Gen.listOf(tokGen)
    val prop = forAll(gen, gen, gen) { (xs, ys, zs) =>
      def buf(l: List[String]) = l.foldLeft(a.zero)(a.reduce)
      val (x, y, z) = (buf(xs), buf(ys), buf(zs))
      val mLeft = a.merge(a.merge(x, y), z)
      val mRight = a.merge(x, a.merge(y, z))
      val all = xs ++ ys ++ zs
      val n = all.size
      val exact = all.groupBy(identity).view.mapValues(_.size.toLong)
      // deterministic guarantee: true heavy hitters survive ANY merge tree
      val hh = exact.filter { case (_, c) => c * (k + 1) > n }.keys.toSet
      val sizesOk = Seq(x, y, z, mLeft, mRight).forall(_.size <= k)
      sizesOk && hh.subsetOf(a.finish(mLeft).toSet) &&
        hh.subsetOf(a.finish(mRight).toSet)
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(200))
    assert(r.passed, r.status.toString)
  }

  /** Appends copies of some of the list's own entries: exact duplicates. */
  private def withDups[T](g: Gen[List[T]]): Gen[List[T]] =
    g.flatMap(l => Gen.someOf(l).map(d => l ++ d.take(3)))

  /** Sometimes puts one or two NaN priorities into the list, at random
    * places. */
  private def withNaN(g: Gen[List[(Double, Long)]]): Gen[List[(Double, Long)]] = {
    val nan = for {
      at <- Gen.choose(0, 1000); id <- Gen.choose(0L, 10000L)
    } yield (at, (Double.NaN, id))
    Gen.frequency((4, g), (1, for {
      l <- g; n <- Gen.choose(1, 2); ins <- Gen.listOfN(n, nan)
    } yield ins.foldLeft(l) { case (acc, (at, e)) => acc.patch(at % (acc.size + 1), List(e), 0) }))
  }

  /** The double-keyed aggregates compare priorities with `<` and `==`:
    * −0.0 ties 0.0 (the id decides), so the references see both as 0.0.
    * The references' `sorted` uses Java's total order, which puts NaN
    * last and ties NaN with NaN, as the aggregates do. */
  private def tieZeros(l: Seq[(Double, Long)]): Seq[(Double, Long)] =
    l.map { case (p, id) => (p + 0.0, id) }

  private def bottomKRef(k: Int, ids: Seq[Long]): Seq[Long] = {
    def pri(v: Long): Long = (v * 2654435761L) & 0xFFFFFFFFL
    ids.distinct.sortBy(v => (pri(v), v)).take(k)
  }

  test("BottomK equals sort-by-priority-take-k on a DataFrame") {
    import spark.implicits._
    val ids = (0L until 500L).map(i => i * 7919L % 100000L)
    val agg = udaf(new Aggregators.BottomK(6))
    val got = ids.toDF("id").select(agg($"id")).head().getSeq[Long](0)
    assert(got.toSeq === bottomKRef(6, ids))
  }

  test("BottomK merge is associative, commutative, and order-insensitive") {
    val a = new Aggregators.BottomK(5)
    val gen = withDups(Gen.listOf(Gen.choose(0L, 1000L)))
    val prop = forAll(gen, gen, gen) { (xs, ys, zs) =>
      def buf(l: List[Long]) = l.foldLeft(a.zero)(a.reduce)
      def v(b: (Array[Long], Array[Long])) = b._2.toSeq
      val (x, y, z) = (buf(xs), buf(ys), buf(zs))
      // merge mutates nothing observable across orderings of the SAME data
      val left = v(a.merge(a.merge(buf(xs), buf(ys)), buf(zs)))
      val right = v(a.merge(buf(xs), a.merge(buf(ys), buf(zs))))
      val swap = v(a.merge(buf(ys), buf(xs)))
      val all = a.finish(buf(xs ++ ys ++ zs)).toSeq
      Seq(x, y, z, a.merge(a.merge(x, y), z)).forall(_._2.length <= 5) &&
      left == right && v(a.merge(buf(xs), buf(ys))) == swap &&
        left == all && all == bottomKRef(5, xs ++ ys ++ zs)
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(100))
    assert(r.passed, r.status.toString)
  }

  test("MinK equals distinct-sort-take-k on a DataFrame") {
    import spark.implicits._
    val ids = (0L until 500L).map(i => i * 7919L % 1000L) // duplicates by design
    val agg = udaf(new Aggregators.MinK(8))
    val got = ids.toDF("id").select(agg($"id")).head().getSeq[Long](0)
    assert(got.toSeq === ids.distinct.sorted.take(8))
  }

  test("MinK merge is associative, commutative, duplicate-idempotent") {
    val a = new Aggregators.MinK(5)
    // tight range → many duplicates
    val gen = withDups(Gen.listOf(Gen.choose(0L, 100L)))
    val prop = forAll(gen, gen, gen) { (xs, ys, zs) =>
      def buf(l: List[Long]) = l.foldLeft(a.zero)(a.reduce)
      def v(b: (Array[Long], Array[Long])) = b._2.toSeq
      val left = v(a.merge(a.merge(buf(xs), buf(ys)), buf(zs)))
      val right = v(a.merge(buf(xs), a.merge(buf(ys), buf(zs))))
      val swap = v(a.merge(buf(ys), buf(xs)))
      val all = a.finish(buf(xs ++ ys ++ zs)).toSeq
      Seq(buf(xs), buf(ys), buf(zs), buf(xs ++ ys ++ zs)).forall(_._2.length <= 5) &&
      left == right && v(a.merge(buf(xs), buf(ys))) == swap &&
        left == all && all == (xs ++ ys ++ zs).distinct.sorted.take(5)
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(100))
    assert(r.passed, r.status.toString)
  }

  private def topKRef(k: Int, pairs: Seq[(Long, Long)]): Seq[Long] =
    pairs.sortBy { case (s, id) => (-s, id) }.take(k).map(_._2)

  test("TopKByScore equals sort-desc-take-k on a DataFrame") {
    import spark.implicits._
    val pairs = (0L until 400L).map(i => ((i * 2654435761L) % 997L, i))
    val agg = udaf(new Aggregators.TopKByScore(5))
    val got = pairs.toDF("s", "id").select(agg($"s", $"id")).head().getSeq[Long](0)
    assert(got.toSeq === topKRef(5, pairs))
  }

  private def bkpRef(k: Int, pairs: Seq[(Double, Long)]): Seq[Long] =
    pairs.sortBy(identity).take(k).map(_._2)

  test("BottomKByPriority equals sort-by-(p,id)-take-k on a DataFrame") {
    import spark.implicits._
    val pairs = (0L until 400L).map(i => (((i * 2654435761L) % 997L).toDouble / 997.0, i))
    val agg = udaf(new Aggregators.BottomKByPriority(5))
    val got = pairs.toDF("p", "id").select(agg($"p", $"id")).head().getSeq[Long](0)
    assert(got.toSeq === bkpRef(5, pairs))
  }

  test("BottomKByPriority merge is associative, commutative, matches single-pass") {
    val a = new Aggregators.BottomKByPriority(4)
    val p = Gen.frequency((10, Gen.choose(0, 50).map(_ / 50.0)), (1, Gen.const(-0.0)))
    // tight p range → ties; −0.0 beside 0.0; exact duplicates; sometimes
    // one or two NaNs
    val gen = withNaN(withDups(Gen.listOf(Gen.zip(p, Gen.choose(0L, 10000L)))))
    val prop = forAll(gen, gen, gen) { (xs, ys, zs) =>
      def buf(l: List[(Double, Long)]) = l.foldLeft(a.zero)(a.reduce)
      // keys by bits of p + 0.0: −0.0 equals 0.0 and NaN equals NaN
      def v(b: (Array[Double], Array[Long])) =
        (b._1.toSeq.map(p => java.lang.Double.doubleToLongBits(p + 0.0)), b._2.toSeq)
      val left = v(a.merge(a.merge(buf(xs), buf(ys)), buf(zs)))
      val right = v(a.merge(buf(xs), a.merge(buf(ys), buf(zs))))
      val swap = v(a.merge(buf(ys), buf(xs)))
      val all = xs ++ ys ++ zs
      val ref = bkpRef(4, tieZeros(all))
      val sizesOk = Seq(buf(xs), buf(ys), buf(zs), a.merge(a.merge(buf(xs), buf(ys)), buf(zs)))
        .forall(b => b._1.length == b._2.length && b._2.length <= 4)
      sizesOk && left == right && v(a.merge(buf(xs), buf(ys))) == swap &&
        left._2 == ref && a.finish(buf(all)).toSeq == ref &&
        a.finish(buf(all.reverse)).toSeq == ref
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(100))
    assert(r.passed, r.status.toString)
  }

  test("BottomKByPriority orders a NaN priority last, whatever the arrival order") {
    val a = new Aggregators.BottomKByPriority(2)
    def buf(l: Seq[(Double, Long)]) = l.foldLeft(a.zero)(a.reduce)
    val in = Seq((Double.NaN, 1L), (0.5, 2L), (0.1, 3L))
    assert(a.finish(buf(in)).toSeq == Seq(3L, 2L))
    assert(a.finish(buf(in.tail :+ in.head)).toSeq == Seq(3L, 2L))
    val (x, y) = (buf(in.take(1)), buf(in.drop(1)))
    assert(a.finish(a.merge(x, y)).toSeq == Seq(3L, 2L))
    assert(a.finish(a.merge(y, x)).toSeq == Seq(3L, 2L))
    // two NaNs tie, so the id decides; −0.0 still ties 0.0
    val b = new Aggregators.BottomKByPriority(4)
    val two = Seq((Double.NaN, 9L), (0.0, 5L), (Double.NaN, 4L), (-0.0, 6L))
    assert(b.finish(two.foldLeft(b.zero)(b.reduce)).toSeq == Seq(5L, 6L, 4L, 9L))
  }

  private def bksRef(k: Int, pairs: Seq[(String, Long)]): Seq[Long] =
    pairs.sortBy(identity).take(k).map(_._2)

  test("BottomKByStringKey equals sort-by-(key,id)-take-k on a DataFrame") {
    import spark.implicits._
    val pairs = (0L until 300L).map(i => (f"${(i * 7919L) % 64L}%02x", i))
    val agg = udaf(new Aggregators.BottomKByStringKey(5))
    val got = pairs.toDF("k", "id").select(agg($"k", $"id")).head().getSeq[Long](0)
    assert(got.toSeq === bksRef(5, pairs))
  }

  test("BottomKByStringKey merge is associative, commutative, matches single-pass") {
    val a = new Aggregators.BottomKByStringKey(3)
    val gen = withDups(Gen.listOf(Gen.zip(
      Gen.choose(0, 20).map(i => f"$i%02d"), Gen.choose(0L, 10000L)))) // ties by design
    val prop = forAll(gen, gen, gen) { (xs, ys, zs) =>
      def buf(l: List[(String, Long)]) = l.foldLeft(a.zero)(a.reduce)
      def v(b: (Array[String], Array[Long])) = (b._1.toSeq, b._2.toSeq)
      val left = v(a.merge(a.merge(buf(xs), buf(ys)), buf(zs)))
      val right = v(a.merge(buf(xs), a.merge(buf(ys), buf(zs))))
      val swap = v(a.merge(buf(ys), buf(xs)))
      val all = a.finish(buf(xs ++ ys ++ zs)).toSeq
      Seq(buf(xs), buf(ys), buf(zs), buf(xs ++ ys ++ zs)).forall(_._2.length <= 3) &&
      left == right && v(a.merge(buf(xs), buf(ys))) == swap &&
        all == bksRef(3, xs ++ ys ++ zs)
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(100))
    assert(r.passed, r.status.toString)
  }

  test("TopKByScore merge is associative, commutative, and matches single-pass") {
    val a = new Aggregators.TopKByScore(4)
    val gen = withDups(Gen.listOf(Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 10000L))))
    val prop = forAll(gen, gen, gen) { (xs, ys, zs) =>
      def buf(l: List[(Long, Long)]) = l.foldLeft(a.zero)(a.reduce)
      def v(b: (Array[Long], Array[Long])) = (b._1.toSeq, b._2.toSeq)
      val left = v(a.merge(a.merge(buf(xs), buf(ys)), buf(zs)))
      val right = v(a.merge(buf(xs), a.merge(buf(ys), buf(zs))))
      val swap = v(a.merge(buf(ys), buf(xs)))
      // duplicate (score, id) pairs occupy two slots; compare on distinct
      val distinctAll = a.finish(buf((xs ++ ys ++ zs).distinct)).toSeq
      Seq(buf(xs), buf(ys), buf(zs), buf(xs ++ ys ++ zs)).forall(_._2.length <= 4) &&
      left == right && v(a.merge(buf(xs), buf(ys))) == swap &&
        distinctAll == topKRef(4, (xs ++ ys ++ zs).distinct)
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(100))
    assert(r.passed, r.status.toString)
  }

  test("GramMatrix merge is associative, commutative, and matches single-pass") {
    val dim = 4
    val a = new Aggregators.GramMatrix(dim)
    val vecGen = Gen.listOfN(dim, Gen.choose(-1000L, 1000L)).map(_.toSeq)
    val gen = Gen.listOf(vecGen)
    def ref(vs: List[Seq[Long]]): Seq[Long] = {
      val m = new Array[Long](dim * dim)
      for (v <- vs; i <- 0 until dim; j <- i until dim)
        m(i * dim + j) += v(i) * v(j)
      m.toSeq
    }
    val prop = forAll(gen, gen, gen) { (xs, ys, zs) =>
      def buf(l: List[Seq[Long]]) = l.foldLeft(a.zero)(a.reduce)
      val left = a.merge(a.merge(buf(xs), buf(ys)), buf(zs)).toSeq
      val right = a.merge(buf(xs), a.merge(buf(ys), buf(zs))).toSeq
      val swap = a.merge(buf(ys), buf(xs)).toSeq
      left == right && a.merge(buf(xs), buf(ys)).toSeq == swap &&
        a.finish(buf(xs ++ ys ++ zs)) == ref(xs ++ ys ++ zs)
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(100))
    assert(r.passed, r.status.toString)
  }
}
