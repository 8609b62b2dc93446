package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: the engine's one range-join strategy. It rewrites a
  * time-range theta join into a bucketed equi-join.
  *
  * A query writes the join it means:
  * {{{ a.join(b, a("k") === b("k") && b("ts") >= a("ts") - W && b("ts") <= a("ts") + W) }}}
  * With no equi conjunct Spark must plan a BroadcastNestedLoopJoin:
  * quadratic, a 100 TB killer. With only a low-cardinality k, each key's
  * rows meet on one reducer. The reference meets exactly this shape when
  * attaching timeline events within ±15 s of each kill
  * (utils.py:541-580); `RangeJoin` and `Fights` are those joins.
  *
  * The rewrite floors both timestamps into W-sized buckets, explodes the
  * right side into its bucket ±1, and adds the bucket equality beside
  * the original condition. Any equi conjunct stays, so
  * ExtractEquiJoinKeys plans the join on (k, bucket), and the range
  * predicate stays as the refinement filter. The rows are the same:
  * two values within W always share a bucket or sit in adjacent ones,
  * so the buckets only pick candidate pairs. The join becomes a
  * shuffled hash/sort-merge join with bounded 3x fanout that AQE can
  * skew-split.
  *
  * Trigger: an inner join whose condition holds both range conjuncts
  * with the same positive integer W on a LongType attribute pair,
  * whether or not it also has an equi key. Joins already rewritten are
  * skipped by the marker column name. The trade: for a
  * high-cardinality k, the key alone already spreads the join, and the
  * rule still adds the 3x explode of the right side. The rule cannot
  * see key cardinality without CBO stats, and none of the declared
  * queries has that shape. `spark.sql.optimizer.excludedRules` turns
  * the rule off.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val BucketName = "__graft_range_bucket"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if j.resolved && !alreadyBucketed(cond) =>
      detectRange(splitConjunctivePredicates(cond), left, right) match {
        case Some((lTs, rTs, w)) =>
          // left: project bucket = floor(ts / w)
          val lBucket = Alias(floorDiv(lTs, w), BucketName + "_l")()
          val newLeft = Project(left.output :+ lBucket, left)
          // right: explode bucket-1, bucket, bucket+1
          val rBase = floorDiv(rTs, w)
          val gen = Explode(CreateArray(Seq(
            Subtract(rBase, Literal(1L)), rBase, Add(rBase, Literal(1L)))))
          val rBucketAttr = AttributeReference(BucketName + "_r", LongType)()
          val newRight = Generate(gen, Nil, outer = false, None, Seq(rBucketAttr), right)
          // equi keys already in cond come first: (k, bucket)
          val newCond = And(cond, EqualTo(lBucket.toAttribute, rBucketAttr))
          // restore the original schema
          Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))
        case None => j
      }
  }

  private def alreadyBucketed(cond: Expression): Boolean =
    cond.exists {
      case a: Attribute => a.name.startsWith(BucketName)
      case _ => false
    }

  /** Exact integer floor division: (ts - pmod(ts, w)) div w. A
    * float-based floor(ts/w) is lossy for longs above 2^53 (nanosecond
    * epochs) and could mis-bucket near-boundary values, silently
    * dropping in-window pairs.
    */
  private def floorDiv(ts: Expression, w: Long): Expression =
    IntegralDivide(Subtract(ts, Pmod(ts, Literal(w))), Literal(w))

  /** Find `rTs >= lTs - w` and `rTs <= lTs + w` (either argument order)
    * over LongType attributes with the same literal w.
    */
  private def detectRange(
      conjuncts: Seq[Expression],
      left: LogicalPlan,
      right: LogicalPlan
  ): Option[(Attribute, Attribute, Long)] = {
    def side(a: Attribute): Option[Boolean] = // true = left
      if (left.outputSet.contains(a)) Some(true)
      else if (right.outputSet.contains(a)) Some(false)
      else None

    // normalize to (rightAttr, leftAttr, w, isLower)
    def asBound(e: Expression): Option[(Attribute, Attribute, Long, Boolean)] = e match {
      case GreaterThanOrEqual(r: Attribute, Subtract(l: Attribute, Literal(w: Long, LongType), _))
          if side(r).contains(false) && side(l).contains(true) => Some((r, l, w, true))
      case LessThanOrEqual(Subtract(l: Attribute, Literal(w: Long, LongType), _), r: Attribute)
          if side(r).contains(false) && side(l).contains(true) => Some((r, l, w, true))
      case LessThanOrEqual(r: Attribute, Add(l: Attribute, Literal(w: Long, LongType), _))
          if side(r).contains(false) && side(l).contains(true) => Some((r, l, w, false))
      case GreaterThanOrEqual(Add(l: Attribute, Literal(w: Long, LongType), _), r: Attribute)
          if side(r).contains(false) && side(l).contains(true) => Some((r, l, w, false))
      case _ => None
    }

    val bounds = conjuncts.flatMap(asBound(_))
    val lower = bounds.filter(_._4)
    val upper = bounds.filterNot(_._4)
    (for {
      lo <- lower
      hi <- upper
      if lo._1 == hi._1 && lo._2 == hi._2 && lo._3 == hi._3 && lo._3 > 0
      if lo._1.dataType == LongType && lo._2.dataType == LongType
    } yield (lo._2, lo._1, lo._3)).headOption
  }
}
