package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** The scaffold shared by the native merge joins ([[AsOfJoinExec]],
  * [[BandJoinExec]], [[IntervalJoinExec]]; SURVEY §2.9 path c: logical
  * node → planner strategy → physical exec, registered through
  * `SparkSessionExtensions` by [[graft.ext.GraftExtensions]]).
  *
  * Each join's own file keeps only its kernel: the per-partition merge over
  * two children hash-clustered on their first join column and sorted by
  * their first two. Everything else — planning, the Catalyst contract, the
  * DataFrame entry — lives here once. */
trait MergeJoinNode extends BinaryNode {
  def payload: Seq[Attribute]
  override def output: Seq[Attribute] = left.output ++ payload

  /** The physical exec of this node over the planned children. */
  def exec(left: SparkPlan, right: SparkPlan): SparkPlan
}

/** Plans every [[MergeJoinNode]] into its exec; injected as a planner
  * strategy so it participates in normal planning (AQE re-planning
  * included) rather than bypassing it. */
object MergeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: MergeJoinNode => j.exec(planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

/** The Catalyst contract of a merge join: each child hash-clustered on its
  * first join column and sorted by its first two, so EnsureRequirements
  * plans the minimal exchange/sort per child (each side shuffled at its
  * own width, or an upstream partitioning reused). Join columns are
  * LongType by contract (integer epoch micros/nanos throughout the
  * engine) — enforced at construction, cast upstream. */
trait MergeJoinExec extends BinaryExecNode {
  /** Join columns of each side: the clustering column, then the sort column, then any others. */
  def leftCols: Seq[Attribute]
  def rightCols: Seq[Attribute]
  /** Right-side columns appended to each output row. */
  def payload: Seq[Attribute]

  require((leftCols ++ rightCols).forall(_.dataType == LongType),
    s"${getClass.getSimpleName} requires LongType join columns on both sides")

  override def output: Seq[Attribute] = left.output ++ payload

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftCols.take(1)) :: ClusteredDistribution(rightCols.take(1)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(leftCols, rightCols).map(_.take(2).map(SortOrder(_, Ascending)))

  /** Left rows pass through in place: partitioning survives, so a
    * downstream per-key window/agg reuses this shuffle for free. */
  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** Ordinals of `cols` in `child`'s output; every one must be found. */
  protected def ordinals(cols: Seq[Attribute], child: SparkPlan): Seq[Int] = {
    val idx = cols.map(c => child.output.indexWhere(_.exprId == c.exprId))
    require(idx.forall(_ >= 0), s"$nodeName attributes must come from the respective child")
    idx
  }

  /** The payload columns bound in the right child's output, for an
    * `UnsafeProjection` built inside each partition. */
  protected def payloadProjection: Seq[Expression] =
    ordinals(payload, right).zip(payload).map { case (i, p) =>
      BoundReference(i, p.dataType, nullable = true)
    }
}

/** The decoded head of a child sorted by (key, ts): rows with a null key or
  * ts are skipped, and the payload is copied because shuffle rows are
  * reused objects. */
private[plans] final class KeyedHeads(rows: Iterator[InternalRow],
    keyIdx: Int, tsIdx: Int, payProj: UnsafeProjection) {
  var has = false
  var key = 0L
  var ts = 0L
  var pay: UnsafeRow = _
  def advance(): Unit = {
    has = false
    while (!has && rows.hasNext) {
      val r = rows.next()
      if (!r.isNullAt(keyIdx) && !r.isNullAt(tsIdx)) {
        key = r.getLong(keyIdx); ts = r.getLong(tsIdx)
        pay = payProj(r).copy()
        has = true
      }
    }
  }
  advance()
}

/** The one DataFrame entry to the merge joins. */
object MergeJoin {

  /** Wraps `node`, built from both analyzed sides, as a DataFrame. `node`
    * gets the two plans, a by-name column lookup per side and the resolved
    * `payload` attributes; a name missing on its side is rejected with the
    * side named, as is a payload name that collides with a left column. */
  def apply(left: DataFrame, right: DataFrame, payload: Seq[String])(
      node: (LogicalPlan, LogicalPlan, String => Attribute, String => Attribute,
        Seq[Attribute]) => MergeJoinNode): DataFrame = {
    require(payload.forall(p => !left.columns.contains(p)),
      s"payload names collide with left columns: ${payload.intersect(left.columns)}")
    val Seq(lp, rp0) = Seq(left, right).map(_.queryExecution.analyzed)
    // self-join safety: if the two sides share attribute ids (same table
    // read twice through a memoized plan), re-alias the right side so the
    // node's output is duplicate-free
    val rp = if (lp.outputSet.intersect(rp0.outputSet).nonEmpty)
      Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    else rp0
    def attr(p: LogicalPlan, side: String)(n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found on $side side"))
    val r = attr(rp, "right") _
    GraftSqlBridge.ofRows(left.sparkSession,
      node(lp, rp, attr(lp, "left"), r, payload.map(r)))
  }
}
