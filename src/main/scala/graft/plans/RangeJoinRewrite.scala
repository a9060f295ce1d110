package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Catalyst optimizer rule: rewrite a naive interval theta join into
  * the bucketized equi-join of [[graft.operators.RangeJoin]] — the
  * declarative statement `points JOIN intervals ON ts >= start AND
  * ts < end` would otherwise plan as a BroadcastNestedLoopJoin
  * (O(|points|·|intervals|) compared pairs); after the rewrite it is
  * a shuffled equi-join on the bucket key with an exact residual
  * filter, identical results, never a nested loop.
  *
  * Pattern (deliberately narrow — a rewrite must never fire on a
  * plan it cannot prove equivalent): INNER join, no hint, condition
  * exactly `t >= s AND t < e` (either conjunct order) over LONG
  * columns, with `t` from one side and both bounds from the other.
  * The rewritten plan:
  *
  *   Project(original output)
  *     Filter(t >= s AND t < e)            — exact residual
  *       Join(__b = __rb)                  — bucket equi-join
  *         Project(points*, __b  = t div W)
  *         Generate(explode(sequence(s div W, (e-1) div W, 1)),
  *                  intervals)             — one row per bucket overlapped
  *
  * A point's single bucket meets every interval overlapping that
  * bucket exactly once, so the rewrite needs no post-join dedup.
  * Bucket width W is [[DefaultBucketUs]] (µs; 1 h).
  *
  * Registered by [[graft.GraftExtensions]] via
  * `injectOptimizerRule`, or per-session through
  * `spark.experimental.extraOptimizations`.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] {

  val DefaultBucketUs: Long = 3600L * 1000000

  /** cond == (t >= s AND t < e) in either conjunct order. */
  private def bounds(cond: Expression): Option[(Expression, Expression, Expression)] =
    cond match {
      case And(GreaterThanOrEqual(t1, s), LessThan(t2, e))
          if t1.semanticEquals(t2) => Some((t1, s, e))
      case And(LessThan(t2, e), GreaterThanOrEqual(t1, s))
          if t1.semanticEquals(t2) => Some((t1, s, e))
      case _ => None
    }

  private def allLong(es: Expression*): Boolean = es.forall(_.dataType == LongType)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), JoinHint.NONE) =>
      bounds(cond) match {
        case Some((t, s, e))
            if allLong(t, s, e) &&
              t.references.subsetOf(left.outputSet) &&
              s.references.subsetOf(right.outputSet) &&
              e.references.subsetOf(right.outputSet) =>
          val w = Literal(DefaultBucketUs, LongType)
          val pointBucket = Alias(IntegralDivide(t, w), "__graft_b")()
          val keyedPoints = Project(left.output :+ pointBucket, left)
          // Sequence is TimeZoneAwareExpression: the analyzer's
          // ResolveTimeZone has already run, so set the zone here or
          // the expression stays unresolved
          val bucketSeq = Sequence(
            IntegralDivide(s, w),
            IntegralDivide(Subtract(e, Literal(1L, LongType)), w),
            Some(Literal(1L, LongType)),
            Some(conf.sessionLocalTimeZone))
          val rb = AttributeReference("__graft_rb", LongType,
            nullable = bucketSeq.nullable)()
          val exploded = Generate(Explode(bucketSeq), Nil, outer = false,
            qualifier = None, generatorOutput = Seq(rb), child = right)
          val bucketEq = EqualTo(pointBucket.toAttribute, rb)
          Project(j.output,
            Filter(cond, Join(keyedPoints, exploded, Inner,
              Some(bucketEq), JoinHint.NONE)))
        case _ => j
      }
  }
}
