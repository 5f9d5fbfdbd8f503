package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: plan a *pure* range join scalably.
  *
  * A join whose ONLY condition is `abs(a − b) <= w` over integral
  * expressions has no equi key, so Spark plans it as a
  * BroadcastNestedLoopJoin / cartesian — O(|L|·|R|) compared pairs. The
  * scalable form is the bucketed-interval rewrite (the same one
  * `operators.Joins.joinRange` writes by hand): quantize both sides into
  * width-`w` buckets, explode the probe side into its 3 covering buckets,
  * equi-join on the bucket id, and keep the original predicate as the
  * exact residual filter. Same rows, but the bucket id becomes a shuffle
  * key and candidate pairs are near-linear.
  *
  * This rule lets a user write the NATURAL predicate — SQL like
  * `FROM a JOIN b ON abs(a.ts_us - b.ts_us) <= 60000000` — and still get
  * the scalable plan. The rule is part of the [[graft.GraftExtensions]]
  * table: `spark.sql.extensions=graft.GraftExtensions` injects it, and
  * `GraftExtensions.install` adds it to an existing session. Scope is
  * deliberately narrow and safe:
  *  - fires only when the WHOLE join condition is the abs-range predicate
  *    (an additional equi key already gives Spark a hash/SMJ plan);
  *  - integral operands only, and bucket ids derive from `floor(x / w)`
  *    (Floor over real division, not integral division, so negative
  *    domains bucket consistently on both sides);
  *  - the rewritten join's condition is an AND, which this pattern can
  *    never match again — no rewrite loop.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  private def widthOf(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType)   => Some(v)
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case _ => None
  }

  private def integral(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType => true
    case _ => false
  }

  /** floor(x / w) as a resolved expression tree. */
  private def bucket(x: Expression, w: Long): Expression =
    Cast(Floor(Divide(Cast(x, org.apache.spark.sql.types.DoubleType),
      Literal(w.toDouble))), LongType)

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(
          LessThanOrEqual(Abs(Subtract(x, y, _), _), wl)), hint)
        if widthOf(wl).nonEmpty && integral(x) && integral(y) =>
      val w = widthOf(wl).get
      // which operand binds to which side? (either order is legal SQL)
      val sides =
        if (x.references.subsetOf(left.outputSet) &&
            y.references.subsetOf(right.outputSet)) Some((x, y))
        else if (y.references.subsetOf(left.outputSet) &&
            x.references.subsetOf(right.outputSet)) Some((y, x))
        else None
      sides match {
        case None => j
        case Some((la, ra)) if w > 0 =>
          val lb = Alias(bucket(la, w), "__rj_bucket_l")()
          val leftP = Project(left.output :+ lb, left)
          val rb = bucket(ra, w)
          val genOut = AttributeReference("__rj_bucket_r", LongType,
            nullable = rb.nullable)()
          val gen = Generate(
            Explode(CreateArray(Seq(
              Subtract(rb, Literal(1L)), rb, Add(rb, Literal(1L))))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(genOut), right)
          val newCond = And(EqualTo(lb.toAttribute, genOut), j.condition.get)
          // restore the original schema (drop the helper bucket columns)
          Project(j.output, Join(leftP, gen, Inner, Some(newCond), hint))
        case _ => j
      }
  }
}
