package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan

/** Whole-operator as-of join on the [[MergeJoinExec]] scaffold: children
  * hash-clustered on the key and sorted by (key, ts), no union schema, no
  * window buffers. The per-partition merge is a single
  * O(|left| + |right|) two-pointer pass holding ONE payload row, the
  * sort-merge-join shape with a "latest so far" register instead of a
  * buffered match set — streaming, spill-free, 100 TB-safe.
  *
  * Semantics (matching DuckDB `ASOF LEFT JOIN`): backward = latest right
  * row with `r.ts <= l.ts` per key, forward = earliest with `r.ts >= l.ts`;
  * the payload is the matched row's, nulls included; unmatched left rows
  * keep null payload; null keys/timestamps never match.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], forward: Boolean) extends MergeJoinNode {
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  override def exec(left: SparkPlan, right: SparkPlan): SparkPlan =
    AsOfJoinExec(leftKey, rightKey, leftTs, rightTs, payload, forward, left, right)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], forward: Boolean,
    left: SparkPlan, right: SparkPlan) extends MergeJoinExec {

  override def leftCols: Seq[Attribute] = Seq(leftKey, leftTs)
  override def rightCols: Seq[Attribute] = Seq(rightKey, rightTs)

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val Seq(lKeyIdx, lTsIdx) = ordinals(leftCols, left)
    val Seq(rKeyIdx, rTsIdx) = ordinals(rightCols, right)
    val payExprs = payloadProjection
    val nPay = payload.size
    val fwd = forward
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val r = new KeyedHeads(ri, rKeyIdx, rTsIdx, UnsafeProjection.create(payExprs))
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullPay = new GenericInternalRow(nPay)

      new Iterator[InternalRow] {
        // backward mode: the "latest right so far" register for matchKey
        private var matchKey = 0L
        private var matchPay: UnsafeRow = _

        override def hasNext: Boolean = li.hasNext
        override def next(): InternalRow = {
          val l = li.next()
          var pay: InternalRow = nullPay
          if (!l.isNullAt(lKeyIdx) && !l.isNullAt(lTsIdx)) {
            val lk = l.getLong(lKeyIdx)
            val lt = l.getLong(lTsIdx)
            if (!fwd) {
              while (r.has && (r.key < lk || (r.key == lk && r.ts <= lt))) {
                if (r.key == lk) { matchKey = lk; matchPay = r.pay }
                r.advance()
              }
              if (matchPay != null && matchKey == lk) pay = matchPay
            } else {
              while (r.has && (r.key < lk || (r.key == lk && r.ts < lt))) r.advance()
              if (r.has && r.key == lk) pay = r.pay
            }
          }
          resultProj(joined(l, pay))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry points for the native operator. */
object NativeAsOf {

  /** For each left row, the LATEST right row with `right.ts <= left.ts`
    * in the same key; `payload` columns appended (null when unmatched). */
  def backward(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String]): DataFrame =
    join(left, right, key, ts, payload, forward = false)

  /** For each left row, the EARLIEST right row with `right.ts >= left.ts`. */
  def forward(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String]): DataFrame =
    join(left, right, key, ts, payload, forward = true)

  private def join(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String], forward: Boolean): DataFrame =
    MergeJoin(left, right, payload) { (lp, rp, l, r, pay) =>
      AsOfJoinNode(lp, rp, l(key), r(key), l(ts), r(ts), pay, forward)
    }
}
