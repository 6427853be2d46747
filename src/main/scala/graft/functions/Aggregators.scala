package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Custom typed aggregators: the mergeable sketches (heavy hitters,
  * count-min, Gram matrix) and the bounded per-group top-k a
  * training-data pipeline needs for sampling, capping and ranking. The
  * reference's two custom aggregates, histogram mode and the
  * inverse-variance weighted mean (SURVEY U5), are plain column
  * expressions in [[graft.analytics.Chain]]. All are algebraic
  * (commutative, associative merge) so Spark applies them with map-side
  * partial aggregation — shuffle carries one buffer per group, not the
  * rows.
  */
object Aggregators {

  /** Misra–Gries heavy-hitters sketch (k counters): the frequent-items
    * primitive of corpus analysis (frequent tokens / n-grams / domains).
    * Deterministic guarantee: every item with true frequency > n/(k+1)
    * survives in the key set, yet the buffer never exceeds k entries — a
    * shuffle carries k (key, count) pairs per group regardless of group
    * size, where exact counting shuffles the full key space. reduce is the
    * classic decrement-all step; merge sums counters then subtracts the
    * (k+1)-th largest and drops non-positives (Agarwal et al., "Mergeable
    * Summaries" §5 — guarantee-preserving; merge laws property-tested in
    * AggregatorsSpec). finish returns the sorted surviving key set (the
    * candidate heavy hitters; a second exact pass over candidates is the
    * standard two-pass top-k at scale).
    */
  class MisraGries(k: Int) extends Aggregator[String, Map[String, Long], Array[String]] {
    require(k > 0)
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], v: String): Map[String, Long] =
      b.get(v) match {
        case Some(c) => b.updated(v, c + 1)
        case None if b.size < k => b.updated(v, 1L)
        case None => b.view.mapValues(_ - 1).filter(_._2 > 0).toMap
      }
    def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] = {
      val sum = y.foldLeft(x) { case (m, (key, c)) =>
        m.updated(key, m.getOrElse(key, 0L) + c)
      }
      if (sum.size <= k) sum
      else {
        // subtract the (k+1)-th largest counter value from everything
        val cut = sum.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
        sum.view.mapValues(_ - cut).filter(_._2 > 0).toMap
      }
    }
    def finish(b: Map[String, Long]): Array[String] = b.keys.toArray.sorted
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: Encoder[Array[String]] = ExpressionEncoder[Array[String]]()
  }

  /** The one bounded top-k buffer behind the six per-group k-smallest
    * aggregates below: a (keys, ids) pair of arrays kept sorted by the
    * subclass's `before`, never longer than k. reduce is one insertion-sort
    * step (a full buffer rejects anything not before its last entry); merge
    * re-inserts one buffer into the other, so it is associative and
    * commutative whenever `before` is a strict total order on the entries
    * (merge laws property-tested in AggregatorsSpec and SearchNoveltySpec).
    * The shuffle carries ≤ k (key, id) pairs per group, where a
    * `ROW_NUMBER() OVER (PARTITION BY g ORDER BY key)` window sorts every
    * row of the group in one task. With `skipHeld` an id already in the
    * buffer is ignored; without it duplicate entries take two slots.
    * K is specialized so Long and Double keys are never boxed per row.
    */
  abstract class BoundedK[@specialized(Long, Double) K: ClassTag: TypeTag, IN, OUT: TypeTag](
      k: Int, skipHeld: Boolean) extends Aggregator[IN, (Array[K], Array[Long]), OUT] {
    require(k > 0)
    type Buf = (Array[K], Array[Long])
    def key(v: IN): K
    def id(v: IN): Long
    def before(k1: K, i1: Long, k2: K, i2: Long): Boolean
    def zero: Buf = (new Array[K](0), new Array[Long](0))
    protected def insert(b: Buf, key: K, id: Long): Buf = {
      val ks = b._1; val ids = b._2
      val n = ids.length
      if (n == k && !before(key, id, ks(n - 1), ids(n - 1))) return b
      if (skipHeld) { var j = 0; while (j < n) { if (ids(j) == id) return b; j += 1 } }
      val m = math.min(n + 1, k)
      val ok = new Array[K](m); val oi = new Array[Long](m)
      java.lang.System.arraycopy(ks, 0, ok, 0, m - 1)
      java.lang.System.arraycopy(ids, 0, oi, 0, m - 1)
      var i = m - 1
      while (i > 0 && before(key, id, ok(i - 1), oi(i - 1))) {
        ok(i) = ok(i - 1); oi(i) = oi(i - 1); i -= 1
      }
      ok(i) = key; oi(i) = id
      (ok, oi)
    }
    def reduce(b: Buf, v: IN): Buf = insert(b, key(v), id(v))
    def merge(x: Buf, y: Buf): Buf = {
      var out = x
      var i = 0
      while (i < y._2.length) { out = insert(out, y._1(i), y._2(i)); i += 1 }
      out
    }
    // spelled out, not `Buf`: the type tag must see K to substitute it
    def bufferEncoder: Encoder[Buf] = ExpressionEncoder[(Array[K], Array[Long])]()
    def outputEncoder: Encoder[OUT] = ExpressionEncoder[OUT]()
  }

  /** Bottom-k sketch (k-minimum-values): keeps the k ids with the smallest
    * deterministic hash priority — simultaneously a uniform per-group
    * SAMPLE (the hash is effectively random but reproducible across runs
    * and retries, unlike rand()) and the KMV distinct-count estimator.
    * Order: (priority, id); an id already held is skipped. The priority is
    * the 32-bit Knuth multiplicative hash, expressible verbatim in the
    * DuckDB oracle: (id * 2654435761) % 4294967296. Output: ids in order.
    */
  class BottomK(k: Int) extends BoundedK[Long, Long, Array[Long]](k, skipHeld = true) {
    def key(v: Long): Long = (v * 2654435761L) & 0xFFFFFFFFL
    def id(v: Long): Long = v
    def before(p1: Long, i1: Long, p2: Long, i2: Long): Boolean =
      p1 < p2 || (p1 == p2 && i1 < i2)
    def finish(b: Buf): Array[Long] = b._2
  }

  /** K smallest DISTINCT long values per group — the posting-list cap of
    * an inverted-index build: ≤ k longs per term ride the shuffle where
    * `slice(sort_array(collect_set(id)), 1, k)` would drag every posting
    * of every term through it. A value already held is skipped, so
    * pre-distincting the input is merely a size optimization. Output:
    * ascending values.
    */
  class MinK(k: Int) extends BoundedK[Long, Long, Array[Long]](k, skipHeld = true) {
    def key(v: Long): Long = v
    def id(v: Long): Long = v
    def before(v1: Long, i1: Long, v2: Long, i2: Long): Boolean = v1 < v2
    def finish(b: Buf): Array[Long] = b._2
  }

  /** Top-k rows per group by a long score, (score, id) in: the classic
    * "top products per region" shape, where map-side partial top-k makes
    * the reduce input proportional to groups×k, not rows. Order: score
    * DESC, then id ASC (ids must be unique within a group for
    * deterministic results — pack a rowid if needed). Output: ids in rank
    * order.
    */
  class TopKByScore(k: Int)
      extends BoundedK[Long, (Long, Long), Array[Long]](k, skipHeld = false) {
    def key(v: (Long, Long)): Long = v._1
    def id(v: (Long, Long)): Long = v._2
    def before(s1: Long, i1: Long, s2: Long, i2: Long): Boolean =
      s1 > s2 || (s1 == s2 && i1 < i2)
    def finish(b: Buf): Array[Long] = b._2
  }

  /** The order of the two double-keyed classes: p asc by `<`/`==` (−0.0
    * ties 0.0), NaN after every number and tied with another NaN, then id
    * asc — a strict total order, so the result does not depend on arrival
    * order or merge split. DuckDB also sorts NaN last. */
  private def nanLastBefore(p1: Double, i1: Long, p2: Double, i2: Long): Boolean =
    if (p1 < p2) true
    else if (p1 == p2 || (p1.isNaN && p2.isNaN)) i1 < i2
    else p2.isNaN

  /** K rows per group with the smallest DOUBLE priority, (priority, id)
    * in — the weighted-sampling (Efraimidis–Spirakis A-Res) rank step
    * without a rank window: with ~5 language groups over a 100 TB corpus
    * the window form funnels ~20 TB through a single task. Order:
    * `nanLastBefore`. Output: ids in rank order.
    */
  class BottomKByPriority(k: Int)
      extends BoundedK[Double, (Double, Long), Array[Long]](k, skipHeld = false) {
    def key(v: (Double, Long)): Double = v._1
    def id(v: (Double, Long)): Long = v._2
    def before(p1: Double, i1: Long, p2: Double, i2: Long): Boolean =
      nanLastBefore(p1, i1, p2, i2)
    def finish(b: Buf): Array[Long] = b._2
  }

  /** [[BottomKByPriority]] whose output keeps the (priority, id) pairs in
    * rank order — for consumers that need the sort key itself (a k-NN
    * edge's similarity score), not just the ranked ids. */
  class BottomKPairs(k: Int)
      extends BoundedK[Double, (Double, Long), Array[(Double, Long)]](k, skipHeld = false) {
    def key(v: (Double, Long)): Double = v._1
    def id(v: (Double, Long)): Long = v._2
    def before(p1: Double, i1: Long, p2: Double, i2: Long): Boolean =
      nanLastBefore(p1, i1, p2, i2)
    def finish(b: Buf): Array[(Double, Long)] = b._1.zip(b._2)
  }

  /** K rows per group with the smallest STRING sort key, (key, id) in —
    * the deterministic stratified-sample rank (order by md5(text)). String
    * compare is Java lexicographic, identical to DuckDB's binary collation
    * on the ASCII hex md5 digest. Order: key asc, then id asc. Output: ids
    * in rank order.
    */
  class BottomKByStringKey(k: Int)
      extends BoundedK[String, (String, Long), Array[Long]](k, skipHeld = false) {
    def key(v: (String, Long)): String = v._1
    def id(v: (String, Long)): Long = v._2
    def before(k1: String, i1: Long, k2: String, i2: Long): Boolean = {
      val c = k1.compareTo(k2)
      c < 0 || (c == 0 && i1 < i2)
    }
    def finish(b: Buf): Array[Long] = b._2
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005): a d×w counter matrix;
    * estimate(x) = min over rows r of M[r][h_r(x) mod w]. Always an
    * OVER-estimate (every occurrence of x lands in all d probed cells);
    * the excess in one row is bounded in expectation by N/w, so
    * min-of-d-rows concentrates sharply. Merge is ELEMENTWISE ADDITION —
    * the sketch of a union is the sum of the sketches — so partial
    * aggregation combines map-side and the shuffle carries d·w longs per
    * group regardless of item cardinality.
    *
    * Row hashes reuse Spark's xxhash64 chain — `hashLong(r, hashLong(x,
    * 42))` — which is exactly what the SQL expression
    * `pmod(xxhash64(x, CAST(r AS BIGINT)), w)` computes, so the PROBE side
    * (reading estimates out of the finished sketch) is plain codegen'd
    * column arithmetic with no UDF: see [[CountMin.estimate]].
    */
  class CountMin(d: Int, w: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(d > 0 && w > 0)
    def zero: Array[Long] = new Array[Long](d * w)
    def reduce(b: Array[Long], x: Long): Array[Long] = {
      var r = 0
      while (r < d) { b(r * w + CountMin.index(r, x, w)) += 1; r += 1 }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  object CountMin {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    /** Cell index of item x in row r — bit-identical to the SQL column
      * expression `pmod(xxhash64(x, CAST(r AS BIGINT)), w)`. */
    def index(r: Int, x: Long, w: Int): Int =
      Math.floorMod(XXH64.hashLong(r.toLong, XXH64.hashLong(x, 42L)), w).toInt
    /** Point estimate from a finished sketch COLUMN: min over rows of the
      * probed cells, as pure column arithmetic (no UDF in the probe path). */
    def estimate(sketch: org.apache.spark.sql.Column,
        item: org.apache.spark.sql.Column, d: Int, w: Int): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions._
      (0 until d).map { r =>
        element_at(sketch,
          (pmod(xxhash64(item, lit(r.toLong)), lit(w.toLong)) + lit(r.toLong * w) + 1)
            .cast("int"))
      }.reduce(least(_, _))
    }
  }

  /** Gram matrix Σ x·xᵀ over an embedding column, as ONE mergeable
    * aggregate — the single-pass reduction behind PCA / whitening /
    * covariance diagnostics at corpus scale. The naive relational route
    * (posexplode to (dim, v) rows, self-join per vec_id) shuffles
    * dim·(dim+1)/2 ≈ 2080 rows PER VECTOR; this buffer carries one
    * dim×dim long array per partition and one merged row total, so the
    * shuffle cost is constant in the corpus size.
    *
    * Inputs are pre-scaled exact integers (`round(v·1e6) as long`, the
    * [[graft.llm.LlmQueries.ev1]] discipline) so sums are
    * order-independent and hash-comparable against the oracle. Range: the
    * per-row product is ≤ (|v|·1e6)² ≈ 3e11 for unit-norm-ish embeddings,
    * so a long cell overflows past ~3e7 rows — at real corpus scale drop
    * the scale to 1e3 (or split hi/lo words); the contract (exact integer
    * sums, elementwise-add merge) is unchanged. Only the upper triangle
    * (i ≤ j) is accumulated; the buffer is laid out as a full dim×dim
    * array so consumers derive (i, j) = (k div dim, k mod dim) with plain
    * integer arithmetic. Merge = elementwise add (associative,
    * commutative; property-tested in AggregatorsSpec).
    */
  class GramMatrix(dim: Int) extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    require(dim > 0)
    def zero: Array[Long] = new Array[Long](dim * dim)
    def reduce(b: Array[Long], sv: Seq[Long]): Array[Long] = {
      require(sv.length == dim, s"expected $dim dims, got ${sv.length}")
      val a = sv.toArray
      var i = 0
      while (i < dim) {
        val ai = a(i)
        var j = i
        while (j < dim) { b(i * dim + j) += ai * a(j); j += 1 }
        i += 1
      }
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }
}
