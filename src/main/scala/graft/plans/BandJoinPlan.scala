package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan

/** Whole-operator keyed band join on the [[MergeJoinExec]] scaffold.
  *
  * Semantics: for each left row (k, t), every right row with the same key
  * and `t < r.ts <= t + band` — the batch analog of a stream–stream
  * interval join, and the join shape behind attribution windows, funnel
  * steps, and "activity in the hour after X" queries. In stock Spark the
  * inequality half of this predicate falls out of the sort-merge planner:
  * an unkeyed version plans BroadcastNestedLoopJoin, and the keyed version
  * buffers the WHOLE key group under SMJ when keys are hot. This exec
  * streams a single two-pointer pass per partition holding only the rows
  * inside the band window — memory bounded by band occupancy (rows per
  * `band` interval), NOT by key-group size, the property that survives
  * hot keys at 100 TB.
  *
  * Matched-only (inner) semantics: left rows with an empty band emit
  * nothing; null keys/timestamps never match.
  */
case class BandJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], band: Long) extends MergeJoinNode {
  override def exec(left: SparkPlan, right: SparkPlan): SparkPlan =
    BandJoinExec(leftKey, rightKey, leftTs, rightTs, payload, band, left, right)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BandJoinNode =
    copy(left = newLeft, right = newRight)
}

case class BandJoinExec(
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], band: Long,
    left: SparkPlan, right: SparkPlan) extends MergeJoinExec {

  require(band > 0, "BandJoinExec requires a positive band")

  override def leftCols: Seq[Attribute] = Seq(leftKey, leftTs)
  override def rightCols: Seq[Attribute] = Seq(rightKey, rightTs)

  /** Left side passes through in (key, ts) order; downstream per-key aggs
    * reuse this shuffle with no new exchange. */
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val Seq(lKeyIdx, lTsIdx) = ordinals(leftCols, left)
    val Seq(rKeyIdx, rTsIdx) = ordinals(rightCols, right)
    val payExprs = payloadProjection
    val w = band
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val r = new KeyedHeads(ri, rKeyIdx, rTsIdx, UnsafeProjection.create(payExprs))
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // the sliding band window for the current left key: right rows with
        // ts in (lastLeftTs, lastLeftTs + band]. Bounded by band occupancy.
        private var bufKey = 0L
        private var bufValid = false
        private val buf = new java.util.ArrayDeque[(Long, UnsafeRow)]()
        // output rows pending for the current left row
        private var curLeft: InternalRow = _
        private var emit: java.util.Iterator[(Long, UnsafeRow)] = _

        private def refill(): Unit = {
          while ((emit == null || !emit.hasNext) && li.hasNext) {
            val l = li.next()
            if (!l.isNullAt(lKeyIdx) && !l.isNullAt(lTsIdx)) {
              val lk = l.getLong(lKeyIdx)
              val lt = l.getLong(lTsIdx)
              if (!bufValid || lk != bufKey) { buf.clear(); bufKey = lk; bufValid = true }
              // fast-forward right past keys with no remaining left partner
              while (r.has && r.key < lk) r.advance()
              // evict rows that left the band (rTs <= lt can never match a
              // later left row either: later lt' >= lt only moves the band up)
              while (!buf.isEmpty && buf.peekFirst()._1 <= lt) buf.removeFirst()
              // absorb right rows up to the band's upper edge
              while (r.has && r.key == lk && r.ts <= lt + w) {
                if (r.ts > lt) buf.addLast((r.ts, r.pay))
                r.advance()
              }
              if (!buf.isEmpty) {
                curLeft = l.copy() // child iterators reuse row objects
                emit = buf.iterator()
              }
            }
          }
        }

        override def hasNext: Boolean = { refill(); emit != null && emit.hasNext }
        override def next(): InternalRow = {
          refill()
          val (_, pay) = emit.next()
          resultProj(joined(curLeft, pay))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BandJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry point for the native band join. */
object NativeBandJoin {

  /** All right rows with the same `key` and `right.ts` in
    * `(left.ts, left.ts + band]`, appending `payload` columns; left rows
    * with an empty band are dropped (inner semantics). Both sides must
    * carry LongType columns named `key` and `ts`. */
  def after(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String], band: Long): DataFrame =
    MergeJoin(left, right, payload) { (lp, rp, l, r, pay) =>
      BandJoinNode(lp, rp, l(key), r(key), l(ts), r(ts), pay, band)
    }
}
