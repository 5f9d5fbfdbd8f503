package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** The tier-(c) custom-operator path, end to end: a logical AS-OF JOIN
  * node, a planner Strategy, and a sorted-merge physical operator —
  * for the one relational shape Spark has no native operator for.
  *
  * Semantics (= DuckDB `ASOF LEFT JOIN ... ON l.key = r.key AND
  * l.time >= r.time`): every left row pairs with the LATEST right row of
  * the same key at-or-before its time, or nulls. The window/last_value
  * formulation used by q_join_asof/q_join_asof2 is the compositional
  * tier-(a) answer; this operator exists to demonstrate the full custom
  * machinery AND the execution-model win: each side shuffles ONCE on the
  * key and sorts by (key, time) — then a single streaming merge pass per
  * partition emits the join with O(1) carried state (the current held
  * right row), never buffering a user's history the way the
  * union+window plan's window buffer does.
  *
  * Keys and times are restricted to LongType (the engine's key/µs-time
  * currency) — a general implementation would dispatch on the key
  * ordering; restricting keeps the merge loop primitive and allocation
  * free. Null keys never match (SQL join semantics).
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  require(leftKey.dataType == LongType && rightKey.dataType == LongType &&
    leftTime.dataType == LongType && rightTime.dataType == LongType,
    "asof join: key and time expressions must be LongType")
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: AsOfJoin → AsOfJoinExec. Part of the
  * [[graft.GraftExtensions]] table: injected by its `apply` on the
  * conf-based deployment path, or added to an existing session by
  * `GraftExtensions.install`. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(planLater(j.left), planLater(j.right),
        j.leftKey, j.rightKey, j.leftTime, j.rightTime) :: Nil
    case _ => Nil
  }
}

/** Library surface for the operator: resolves the named key/time columns
  * against each side, installs the engine's extensions (idempotent, via
  * [[graft.GraftExtensions.install]]), and returns
  * the joined DataFrame (left columns + nullable right columns). */
object AsOfJoinApi {
  def join(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame,
      lKey: String, rKey: String, lTime: String, rTime: String)
      : org.apache.spark.sql.DataFrame = {
    val s = l.sparkSession
    graft.GraftExtensions.install(s)
    val lp = l.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String) = p.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"asof join: no column '$n' in [${p.output.map(_.name).mkString(", ")}]"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(s,
      AsOfJoin(lp, rp, attr(lp, lKey), attr(rp, rKey),
        attr(lp, lTime), attr(rp, rTime)))
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** One shuffle per side on the key — EnsureRequirements co-partitions
    * the two ClusteredDistributions exactly as it does for sort-merge
    * joins. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  /** In-partition (key, time) order on both sides enables the single
    * merge pass; (time ties broken by input order — callers needing a
    * total tie order add a tiebreak to the time expression upstream). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTime, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTime, right.output)
    val leftOut = left.output
    val rightOut = right.output
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // project FROM the nullable output attrs, not the raw child attrs:
      // binding against the right child's non-nullable schema would let
      // codegen skip null checks and read 0 from the all-null miss row.
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val nullRight = new GenericInternalRow(rightOut.length)
      val rBuf = rIter.buffered
      // O(1) merge state: the latest right row (copied — unsafe rows are
      // reused by the upstream sort) whose (key, time) is at-or-before
      // the left cursor.
      var heldKey = 0L
      var held: InternalRow = null
      val joined = new JoinedRow
      lIter.map { l =>
        val k = lk.eval(l)
        if (k == null) {
          proj(joined(l, nullRight))
        } else {
          val lkv = k.asInstanceOf[Long]
          val ltv = lt.eval(l).asInstanceOf[Long]
          if (held != null && heldKey != lkv) held = null
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val r = rBuf.head
            val rkN = rk.eval(r)
            if (rkN == null) { rBuf.next() } // null key never matches
            else {
              val rkv = rkN.asInstanceOf[Long]
              if (rkv < lkv) { rBuf.next() }
              else if (rkv == lkv && rt.eval(r).asInstanceOf[Long] <= ltv) {
                held = r.copy(); heldKey = rkv; rBuf.next()
              } else advancing = false
            }
          }
          proj(joined(l, if (held != null) held else nullRight))
        }
      }
    }
  }
}
