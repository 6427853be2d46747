package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Whole-operator interval×interval overlap join — third member of the
  * native-exec family ([[AsOfJoinExec]], [[BandJoinExec]]; SURVEY §2.9
  * path c: logical node → planner strategy → physical exec, registered by
  * [[graft.ext.GraftExtensions]]).
  *
  * Semantics: inner-join left `[llo, lhi)` to right `[rlo, rhi)` where
  * `llo < rhi && rlo < lhi`. A bucketed equijoin (both sides exploded
  * into window-sized buckets) pays per-bucket occupancy² candidate
  * fan-out plus an exactly-once claim filter, and its bucket width is a
  * real tuning knob (too narrow → replication, too wide → quadratic
  * candidates). This exec keeps a knob only for PARALLELISM: both sides
  * are chunked by a coarse time range (`chunkWidth` ≫ interval length, so
  * replication ≈ 1), and inside each chunk a single sweep-line pass
  * enumerates pairs in O(rows + output) — no candidate blow-up, no
  * post-filter.
  *
  * Sweep invariant: rows arrive merged by (chunk, lo, side — left first on
  * ties). Each side keeps the ACTIVE set of intervals whose `hi` exceeds
  * the sweep position; the arriving interval emits one pair per surviving
  * opposite-side active (actives have `lo ≤ arrival.lo < hi`, and
  * non-empty intervals give the other inequality for free). Memory is
  * bounded by interval-overlap occupancy — the rows alive at one instant —
  * NOT by key-group or bucket population, the property that survives
  * 100 TB. Exactly-once across chunk replicas: a pair is claimed only
  * where the LATER interval's own `lo` lives (`lo div chunkWidth ==
  * chunk`), which both replicas cover by construction.
  */
case class IntervalJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftChunk: Attribute, leftLo: Attribute, leftHi: Attribute,
    rightChunk: Attribute, rightLo: Attribute, rightHi: Attribute,
    payload: Seq[Attribute], chunkWidth: Long) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ payload
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinNode =
    copy(left = newLeft, right = newRight)
}

object IntervalJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinNode(l, r, lc, llo, lhi, rc, rlo, rhi, pay, w) =>
      IntervalJoinExec(lc, llo, lhi, rc, rlo, rhi, pay, w,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class IntervalJoinExec(
    leftChunk: Attribute, leftLo: Attribute, leftHi: Attribute,
    rightChunk: Attribute, rightLo: Attribute, rightHi: Attribute,
    payload: Seq[Attribute], chunkWidth: Long,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  require(chunkWidth > 0, "IntervalJoinExec requires a positive chunkWidth")
  require(Seq(leftChunk, leftLo, leftHi, rightChunk, rightLo, rightHi)
      .forall(_.dataType == LongType),
    "IntervalJoinExec requires LongType chunk/lo/hi on both sides")

  override def output: Seq[Attribute] = left.output ++ payload

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftChunk)) ::
      ClusteredDistribution(Seq(rightChunk)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftChunk, Ascending), SortOrder(leftLo, Ascending)),
      Seq(SortOrder(rightChunk, Ascending), SortOrder(rightLo, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lcIdx = left.output.indexWhere(_.exprId == leftChunk.exprId)
    val lloIdx = left.output.indexWhere(_.exprId == leftLo.exprId)
    val lhiIdx = left.output.indexWhere(_.exprId == leftHi.exprId)
    val rcIdx = right.output.indexWhere(_.exprId == rightChunk.exprId)
    val rloIdx = right.output.indexWhere(_.exprId == rightLo.exprId)
    val rhiIdx = right.output.indexWhere(_.exprId == rightHi.exprId)
    val payIdx = payload.map(p => right.output.indexWhere(_.exprId == p.exprId))
    require((Seq(lcIdx, lloIdx, lhiIdx, rcIdx, rloIdx, rhiIdx) ++ payIdx)
      .forall(_ >= 0), "interval-join attributes must come from the children")
    val payTypes = payload.map(_.dataType)
    val leftAttrs = left.output
    val outAttrs = output
    val w = chunkWidth

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val copyLeft = UnsafeProjection.create(leftAttrs, leftAttrs)
      val payProj = UnsafeProjection.create(
        payIdx.zip(payTypes).map { case (i, t) => BoundReference(i, t, true) })
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // ---- one decoded head per child (child rows are reused objects)
        private var lHas = false
        private var lC = 0L; private var lLo = 0L; private var lHi = 0L
        private var lRow: UnsafeRow = _
        private def advL(): Unit = {
          lHas = false
          while (!lHas && li.hasNext) {
            val r = li.next()
            if (!r.isNullAt(lcIdx) && !r.isNullAt(lloIdx) && !r.isNullAt(lhiIdx)) {
              lC = r.getLong(lcIdx); lLo = r.getLong(lloIdx); lHi = r.getLong(lhiIdx)
              if (lLo < lHi) { lRow = copyLeft(r).copy(); lHas = true }
            }
          }
        }
        private var rHas = false
        private var rC = 0L; private var rLo = 0L; private var rHi = 0L
        private var rPay: UnsafeRow = _
        private def advR(): Unit = {
          rHas = false
          while (!rHas && ri.hasNext) {
            val r = ri.next()
            if (!r.isNullAt(rcIdx) && !r.isNullAt(rloIdx) && !r.isNullAt(rhiIdx)) {
              rC = r.getLong(rcIdx); rLo = r.getLong(rloIdx); rHi = r.getLong(rhiIdx)
              if (rLo < rHi) { rPay = payProj(r).copy(); rHas = true }
            }
          }
        }
        advL(); advR()

        // ---- per-chunk active sets: (hi, row); swap-removed when expired
        private var curChunk = Long.MinValue
        private val actL = new scala.collection.mutable.ArrayBuffer[(Long, UnsafeRow)]
        private val actR = new scala.collection.mutable.ArrayBuffer[(Long, UnsafeRow)]

        // ---- pending emission: scan of the opposite active set
        private var scan: scala.collection.mutable.ArrayBuffer[(Long, UnsafeRow)] = _
        private var scanIdx = 0
        private var scanLo = 0L
        private var scanLeftRow: UnsafeRow = _ // set when the ARRIVAL is left
        private var scanPay: UnsafeRow = _     // set when the ARRIVAL is right
        private var nextOut: InternalRow = _

        /** Position `scan` on the next live pair, swap-removing expired
          * actives in passing (cost = output + evictions). */
        private def seekScan(): Boolean = {
          while (scan != null && scanIdx < scan.length) {
            val (hi, row) = scan(scanIdx)
            if (hi <= scanLo) {
              scan(scanIdx) = scan(scan.length - 1)
              scan.remove(scan.length - 1)
            } else {
              nextOut =
                if (scanLeftRow != null) resultProj(joined(scanLeftRow, row))
                else resultProj(joined(row, scanPay))
              scanIdx += 1
              return true
            }
          }
          scan = null
          false
        }

        /** Consume arrivals (merged by chunk, lo, left-first) until an
          * emission is pending or both children drain. */
        private def pump(): Boolean = {
          if (seekScan()) return true
          while (lHas || rHas) {
            val takeLeft = lHas && (!rHas || lC < rC || (lC == rC && lLo <= rLo))
            if (takeLeft) {
              if (lC != curChunk) { actL.clear(); actR.clear(); curChunk = lC }
              val home = lLo - java.lang.Math.floorMod(lLo, w) == curChunk * w
              actL += ((lHi, lRow))
              if (home) {
                scan = actR; scanIdx = 0; scanLo = lLo
                scanLeftRow = lRow; scanPay = null
              }
              advL()
            } else {
              if (rC != curChunk) { actL.clear(); actR.clear(); curChunk = rC }
              val home = rLo - java.lang.Math.floorMod(rLo, w) == curChunk * w
              actR += ((rHi, rPay))
              if (home) {
                scan = actL; scanIdx = 0; scanLo = rLo
                scanLeftRow = null; scanPay = rPay
              }
              advR()
            }
            if (seekScan()) return true
          }
          false
        }

        override def hasNext: Boolean = nextOut != null || pump()
        override def next(): InternalRow = {
          if (nextOut == null && !pump()) throw new NoSuchElementException
          val out = nextOut; nextOut = null; out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry point for the native interval-overlap join. */
object NativeIntervalJoin {

  import org.apache.spark.sql.functions._

  /** floor(a / w) exact over the long range (see RangeJoin.floorDiv). */
  private def floorDiv(a: Column, w: Long): Column =
    round((a - pmod(a, lit(w))) / lit(w)).cast("long")

  /** Inner overlap join of `left` `[llo, lhi)` with `right` `[rlo, rhi)`
    * (`llo < rhi && rlo < lhi`), appending `payload` columns from the
    * right; empty intervals never match. `chunkWidth` sets shuffle
    * parallelism only — pick it ≫ the typical interval length so the
    * chunk-cover explode stays ≈ 1 row per input row. */
  def overlap(left: DataFrame, llo: Column, lhi: Column,
      right: DataFrame, rlo: Column, rhi: Column,
      payload: Seq[String], chunkWidth: Long): DataFrame = {
    // cover chunks [chunk(lo), chunk(hi - 1)]: a partner's claiming lo is
    // strictly below hi, so no later chunk can ever claim a pair with us
    val l = left
      .withColumn("__ijlo", llo.cast("long"))
      .withColumn("__ijhi", lhi.cast("long"))
      .filter(col("__ijlo") < col("__ijhi"))
      .withColumn("__ijck", explode(sequence(
        floorDiv(col("__ijlo"), chunkWidth),
        floorDiv(col("__ijhi") - 1, chunkWidth))))
    val r = right
      .withColumn("__ijlo", rlo.cast("long"))
      .withColumn("__ijhi", rhi.cast("long"))
      .filter(col("__ijlo") < col("__ijhi"))
      .withColumn("__ijck", explode(sequence(
        floorDiv(col("__ijlo"), chunkWidth),
        floorDiv(col("__ijhi") - 1, chunkWidth))))
    val lp = l.queryExecution.analyzed
    val rp0 = r.queryExecution.analyzed
    val rp = if (lp.outputSet.intersect(rp0.outputSet).nonEmpty)
      Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    else rp0
    def attr(out: Seq[Attribute], n: String, side: String): Attribute =
      out.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found on $side side"))
    require(payload.forall(p => !left.columns.contains(p)),
      s"payload names collide with left columns: ${payload.intersect(left.columns)}")
    GraftSqlBridge.ofRows(left.sparkSession,
      IntervalJoinNode(lp, rp,
        attr(lp.output, "__ijck", "left"), attr(lp.output, "__ijlo", "left"),
        attr(lp.output, "__ijhi", "left"),
        attr(rp.output, "__ijck", "right"), attr(rp.output, "__ijlo", "right"),
        attr(rp.output, "__ijhi", "right"),
        payload.map(attr(rp.output, _, "right")), chunkWidth))
      .drop("__ijck", "__ijlo", "__ijhi")
  }
}
