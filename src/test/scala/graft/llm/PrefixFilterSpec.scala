package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PrefixFilterSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  test("d9: all candidate arms emit the identical pair set; filters never add candidates") {
    val session = spark
    import session.implicits._
    val docs = LlmQueries.d9Docs(session, sf).localCheckpoint()
    val tau = 0.5 // LlmQueries.D9Tau
    // reference: the naive candidate join (any shared Jaccard-prefix
    // shingle, length filter only) verified here by array_intersect
    val cand = docs.select($"doc_id", $"ns", explode($"prefix").as("pe"))
      .select($"doc_id", $"ns", $"pe.shh".as("shh"))
    val naive = cand.select($"doc_id".as("da"), $"shh", $"ns".as("na"))
      .join(cand.select($"doc_id".as("db"), $"shh", $"ns".as("nb")), Seq("shh"))
      .filter($"da" < $"db" &&
        $"nb".cast("double") >= $"na".cast("double") * tau &&
        $"nb".cast("double") <= $"na".cast("double") / tau)
      .select($"da", $"db").distinct()
    val side = docs.select($"doc_id", $"arr.shh".as("shs"), $"ns")
    val verified = naive
      .join(side.select($"doc_id".as("da"), $"shs".as("sa"), $"ns".as("na")), "da")
      .join(side.select($"doc_id".as("db"), $"shs".as("sb"), $"ns".as("nb")), "db")
      .withColumn("inter", size(array_intersect($"sa", $"sb")))
      .withColumn("jacc", $"inter".cast("double") /
        ($"na" + $"nb" - $"inter").cast("double"))
      .filter($"jacc" >= tau)
      .select($"da", $"db", round($"jacc", 6).as("jacc"))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))
    val a = sorted(verified)
    assert(a.nonEmpty && a === sorted(LlmQueries.d9From(docs)))
    val cn = naive.count()
    val ci = LlmQueries.d9Pairs(docs).count()
    assert(ci <= cn, s"index-prefix join must not add candidates ($ci > $cn)")
  }

  test("d9: prefix filtering shrinks the candidate set vs any-shared-shingle") {
    val session = spark
    import session.implicits._
    val docs = LlmQueries.d9Docs(session, sf).localCheckpoint()
    def pairCount(col_ : String): Long = {
      val c = docs.select($"doc_id", explode(col(col_)).as("pe"))
        .select($"doc_id", $"pe.shh".as("shh"))
      c.select($"doc_id".as("da"), $"shh")
        .join(c.select($"doc_id".as("db"), $"shh"), Seq("shh"))
        .filter($"da" < $"db").select($"da", $"db").distinct().count()
    }
    val naive = pairCount("arr")
    val prefix = pairCount("prefix")
    val iprefix = pairCount("iprefix")
    assert(prefix < naive,
      s"prefix candidates ($prefix) should undercut naive ($naive)")
    assert(iprefix <= prefix,
      s"index prefix ($iprefix) is a subset of the Jaccard prefix ($prefix)")
    // the reduction should be substantial, not cosmetic (τ=0.5 indexes
    // about half of each set, and the rarest-first order biases the join
    // toward low-fanout shingles)
    assert(prefix.toDouble / naive.toDouble < 0.8,
      s"expected >20% candidate reduction, got $prefix/$naive")
  }

  test("d9: prefix completeness holds on random set pairs (ScalaCheck)") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    // random universe subsets under a random canonical order: whenever
    // J(x,y) >= tau, the tau-prefixes MUST intersect — the invariant the
    // whole candidate generator rests on
    val tau = 0.5
    val genSet = Gen.chooseNum(1, 20).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 30)).map(_.toSet))
    val prop = forAll(genSet, genSet, Gen.chooseNum(1L, Long.MaxValue)) {
      (x, y, seed) =>
        val order = new scala.util.Random(seed).shuffle((0 to 30).toVector)
        def prefix(s0: Set[Int]) = order.filter(s0)
          .take(s0.size - math.ceil(tau * s0.size).toInt + 1).toSet
        val j = (x & y).size.toDouble / (x | y).size.toDouble
        j < tau || (prefix(x) & prefix(y)).nonEmpty
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(500))
    assert(r.passed, r.status.toString)
  }

  test("d9: asymmetric probe×index completeness (PPJoin index prefix, ScalaCheck)") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    // the indexed arm's invariant: with y the pair's SMALLER set (the
    // indexed side), whenever J(x,y) >= tau the probe prefix of x
    // (|x| - ceil(tau*|x|) + 1) intersects the SHORT index prefix of y
    // (|y| - ceil(2*tau/(1+tau)*|y|) + 1)
    val tau = 0.5
    val genSet = Gen.chooseNum(1, 20).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 30)).map(_.toSet))
    val prop = forAll(genSet, genSet, Gen.chooseNum(1L, Long.MaxValue)) {
      (s1, s2, seed) =>
        val (y, x) = if (s1.size <= s2.size) (s1, s2) else (s2, s1)
        val order = new scala.util.Random(seed).shuffle((0 to 30).toVector)
        def take(s0: Set[Int], len: Int) = order.filter(s0).take(len).toSet
        val probe = take(x, x.size - math.ceil(tau * x.size).toInt + 1)
        val index = take(y,
          y.size - math.ceil(2 * tau / (1 + tau) * y.size).toInt + 1)
        val j = (x & y).size.toDouble / (x | y).size.toDouble
        j < tau || (probe & index).nonEmpty
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(500))
    assert(r.passed, r.status.toString)
  }

  test("d9: prefix length formula guarantees completeness at the boundary") {
    // two sets with Jaccard exactly τ=0.5 must share a prefix element:
    // |x|=4, |y|=4, overlap 3 → J = 3/5 ≥ 0.5; prefix len = 4-2+1 = 3 —
    // any 3-of-4 subsets of both must intersect (pigeonhole)
    val x = Set("a", "b", "c", "d")
    val y = Set("a", "b", "c", "e")
    val order = Seq("a", "b", "c", "d", "e") // any shared canonical order
    def prefix(s0: Set[String]) =
      order.filter(s0).take(s0.size - math.ceil(0.5 * s0.size).toInt + 1).toSet
    val j = (x & y).size.toDouble / (x | y).size.toDouble
    assert(j >= 0.5)
    assert((prefix(x) & prefix(y)).nonEmpty)
  }
}
