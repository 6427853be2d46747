package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Whole-operator as-of join (SURVEY §2.9 escalation path c — the full
  * ladder: custom logical node → planner [[AsOfJoinStrategy]] → physical
  * [[AsOfJoinExec]], registered through `SparkSessionExtensions` by
  * [[graft.ext.GraftExtensions]]).
  *
  * The exec states the operator's requirements to Catalyst — children
  * hash-clustered on the key and sorted by (key, ts) — and
  * EnsureRequirements plans the minimal exchanges/sorts (each side
  * shuffled at its own width, no union schema, no window buffers). The
  * per-partition merge is then a single O(|left| + |right|) two-pointer
  * pass holding ONE payload row, the sort-merge-join shape with a "latest
  * so far" register instead of a buffered match set — streaming,
  * spill-free, 100 TB-safe.
  *
  * Semantics (matching DuckDB `ASOF LEFT JOIN`): backward = latest right
  * row with `r.ts <= l.ts` per key, forward = earliest with `r.ts >= l.ts`;
  * the payload is the matched row's, nulls included; unmatched left rows
  * keep null payload; null keys/timestamps never match. Keys and
  * timestamps are LongType by contract (the engine's event time is
  * integer epoch micros/nanos throughout) — enforced at construction,
  * cast upstream.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], forward: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] → [[AsOfJoinExec]]; injected via
  * `injectPlannerStrategy` so it participates in normal planning (AQE
  * re-planning included) rather than bypassing it. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, pay, fwd) =>
      AsOfJoinExec(lk, rk, lt, rt, pay, fwd, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], forward: Boolean,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  require(Seq(leftKey, rightKey, leftTs, rightTs).forall(_.dataType == LongType),
    "AsOfJoinExec requires LongType key and ts on both sides")

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  /** The operator's real needs, declared — Catalyst inserts the minimal
    * exchange/sort per child (or reuses an upstream partitioning). */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  /** Left rows pass through in place: partitioning and ordering survive,
    * so a downstream per-key window/agg reuses this shuffle for free. */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyIdx = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTsIdx = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rKeyIdx = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsIdx = right.output.indexWhere(_.exprId == rightTs.exprId)
    val payIdx = payload.map(p => right.output.indexWhere(_.exprId == p.exprId))
    require((Seq(lKeyIdx, lTsIdx, rKeyIdx, rTsIdx) ++ payIdx).forall(_ >= 0),
      "as-of attributes must come from the respective child")
    val payTypes = payload.map(_.dataType)
    val nPay = payload.size
    val fwd = forward
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val payProj = UnsafeProjection.create(
        payIdx.zip(payTypes).map { case (i, t) => BoundReference(i, t, true) })
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullPay = new GenericInternalRow(nPay)

      new Iterator[InternalRow] {
        // right head, decoded; payload copied because shuffle rows are reused
        private var rHas = false
        private var rKey = 0L
        private var rTs = 0L
        private var rPay: UnsafeRow = _
        private def advanceRight(): Unit = {
          rHas = false
          while (!rHas && ri.hasNext) {
            val r = ri.next()
            if (!r.isNullAt(rKeyIdx) && !r.isNullAt(rTsIdx)) {
              rKey = r.getLong(rKeyIdx); rTs = r.getLong(rTsIdx)
              rPay = payProj(r).copy()
              rHas = true
            }
          }
        }
        advanceRight()
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
              while (rHas && (rKey < lk || (rKey == lk && rTs <= lt))) {
                if (rKey == lk) { matchKey = lk; matchPay = rPay }
                advanceRight()
              }
              if (matchPay != null && matchKey == lk) pay = matchPay
            } else {
              while (rHas && (rKey < lk || (rKey == lk && rTs < lt))) advanceRight()
              if (rHas && rKey == lk) pay = rPay
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
      payload: Seq[String], forward: Boolean): DataFrame = {
    val lp = left.queryExecution.analyzed
    val rp0 = right.queryExecution.analyzed
    // self-join safety: if the two sides share attribute ids (same table
    // read twice through a memoized plan), re-alias the right side so the
    // node's output is duplicate-free
    val rp = if (lp.outputSet.intersect(rp0.outputSet).nonEmpty)
      Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    else rp0
    def attr(out: Seq[Attribute], n: String, side: String): Attribute =
      out.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found on $side side"))
    require(payload.forall(p => !left.columns.contains(p)),
      s"payload names collide with left columns: ${payload.intersect(left.columns)}")
    GraftSqlBridge.ofRows(left.sparkSession,
      AsOfJoinNode(lp, rp,
        attr(lp.output, key, "left"), attr(rp.output, key, "right"),
        attr(lp.output, ts, "left"), attr(rp.output, ts, "right"),
        payload.map(attr(rp.output, _, "right")), forward))
  }
}
