package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan

/** Whole-operator interval×interval overlap join on the [[MergeJoinExec]]
  * scaffold.
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
    payload: Seq[Attribute], chunkWidth: Long) extends MergeJoinNode {
  override def exec(left: SparkPlan, right: SparkPlan): SparkPlan =
    IntervalJoinExec(leftChunk, leftLo, leftHi, rightChunk, rightLo, rightHi,
      payload, chunkWidth, left, right)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinNode =
    copy(left = newLeft, right = newRight)
}

case class IntervalJoinExec(
    leftChunk: Attribute, leftLo: Attribute, leftHi: Attribute,
    rightChunk: Attribute, rightLo: Attribute, rightHi: Attribute,
    payload: Seq[Attribute], chunkWidth: Long,
    left: SparkPlan, right: SparkPlan) extends MergeJoinExec {

  require(chunkWidth > 0, "IntervalJoinExec requires a positive chunkWidth")

  override def leftCols: Seq[Attribute] = Seq(leftChunk, leftLo, leftHi)
  override def rightCols: Seq[Attribute] = Seq(rightChunk, rightLo, rightHi)

  override protected def doExecute(): RDD[InternalRow] = {
    val Seq(lcIdx, lloIdx, lhiIdx) = ordinals(leftCols, left)
    val Seq(rcIdx, rloIdx, rhiIdx) = ordinals(rightCols, right)
    val payExprs = payloadProjection
    val leftAttrs = left.output
    val outAttrs = output
    val w = chunkWidth

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val copyLeft = UnsafeProjection.create(leftAttrs, leftAttrs)
      val payProj = UnsafeProjection.create(payExprs)
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
  import graft.operators.RangeJoin.floorDiv

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
    def cover(df: DataFrame, lo: Column, hi: Column): DataFrame = df
      .withColumn("__ijlo", lo.cast("long"))
      .withColumn("__ijhi", hi.cast("long"))
      .filter(col("__ijlo") < col("__ijhi"))
      .withColumn("__ijck", explode(sequence(
        floorDiv(col("__ijlo"), chunkWidth),
        floorDiv(col("__ijhi") - 1, chunkWidth))))
    MergeJoin(cover(left, llo, lhi), cover(right, rlo, rhi), payload) {
      (lp, rp, l, r, pay) =>
        IntervalJoinNode(lp, rp, l("__ijck"), l("__ijlo"), l("__ijhi"),
          r("__ijck"), r("__ijlo"), r("__ijhi"), pay, chunkWidth)
    }.drop("__ijck", "__ijlo", "__ijhi")
  }
}
