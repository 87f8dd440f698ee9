package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, AttributeReference, Cast, Divide, EqualTo,
  Explode, Expression, Floor, Greatest, GreaterThan, GreaterThanOrEqual, If,
  Least, LessThan, LessThanOrEqual, Literal, PredicateHelper, Sequence}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{
  Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Automatic RANGE-JOIN BUCKETING — the optimizer-rule tier of the
  * extension ladder applied to a whole join strategy, not just a pushdown:
  * an inner join whose ONLY cross-side predicates are range bounds
  * (`p >= lo AND p <= hi`, the point-in-interval join) has no equi keys,
  * so Spark plans BroadcastNestedLoopJoin — O(|L|·|R|) predicate
  * evaluations, the shape that dies first at scale. The classic manual
  * rescue (spelled by hand in q89) is to bucket both sides by a width W
  * and equi-join on the bucket; this rule performs that rewrite IN THE
  * ENGINE, the way Databricks' range-join optimization and DuckDB's
  * IEJoin make the same class of query scale without user surgery:
  *
  *   - point side: one derived column `floor(p / W)` — each point lives
  *     in exactly ONE bucket, so no post-join dedup is ever needed;
  *   - interval side: `explode(sequence(floor(lo/W), floor(hi/W)))` —
  *     one row per covered bucket (≤ len/W + 1; inverted intervals
  *     explode to nothing, matching their original empty semantics);
  *   - join on bucket equality PLUS the original condition (exactness
  *     is the original predicate's job; the bucket is pure pruning).
  *
  * Completeness: lo ≤ p ≤ hi ⟹ floor(lo/W) ≤ floor(p/W) ≤ floor(hi/W)
  * (floor and IEEE division are monotone), so the point's bucket is
  * always among the interval's exploded buckets. Each qualifying pair
  * meets on exactly that one bucket — no duplicates, no misses; the
  * rewrite is an equivalence, which is why the DuckDB oracle (which runs
  * its own IEJoin) pins the result.
  *
  * Scope and safety: INNER joins only; fires only when NO cross-side
  * equi predicate exists (with one, Spark already hash-joins and the
  * bucket would only add cost); requires deterministic numeric bounds;
  * idempotent by construction (the injected bucket equality IS an equi
  * predicate, so the guard fails on the next fixed-point pass). Enabled
  * by setting [[RangeBucketJoin.WidthConf]] to a positive bucket width —
  * W should be on the order of the typical interval length: smaller
  * multiplies interval rows, larger widens the candidate set the
  * original predicate must re-filter.
  */
object RangeBucketJoin extends Rule[LogicalPlan] with PredicateHelper {

  val WidthConf = "spark.graft.rangeJoin.bucketWidth"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width = conf.getConfString(WidthConf, "0").toDouble
    if (width <= 0) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), _)
          if j.resolved && eligible(j, cond) =>
        rewrite(j, cond, width)
          .orElse(rewriteOverlap(j, cond, width))
          .getOrElse(j)
    }
  }

  /** No cross-side equality anywhere in the condition (Spark would plan a
    * hash join on it, and our own rewrite has already run if one is the
    * injected bucket key).
    */
  private def eligible(j: Join, cond: Expression): Boolean =
    !splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) => crossSide(j, a, b)
      case _             => false
    }

  private def crossSide(j: Join, a: Expression, b: Expression): Boolean =
    (a.references.subsetOf(j.left.outputSet) &&
       b.references.subsetOf(j.right.outputSet)) ||
    (a.references.subsetOf(j.right.outputSet) &&
       b.references.subsetOf(j.left.outputSet))

  private def rewrite(j: Join, cond: Expression, width: Double): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // Normalize every comparison into lower/upper bounds on an expression:
    // (x, bound) with x the bounded side. Strict bounds are fine — the
    // bucket join is a candidate superset and the original predicate
    // still applies exactly.
    val lowers = conjuncts.collect {
      case GreaterThanOrEqual(x, b) => (x, b)
      case GreaterThan(x, b)        => (x, b)
      case LessThanOrEqual(b, x)    => (x, b)
      case LessThan(b, x)           => (x, b)
    }
    val uppers = conjuncts.collect {
      case LessThanOrEqual(x, b)    => (x, b)
      case LessThan(x, b)           => (x, b)
      case GreaterThanOrEqual(b, x) => (x, b)
      case GreaterThan(b, x)        => (x, b)
    }
    val candidates = for {
      (p, lo) <- lowers
      (p2, hi) <- uppers
      if p.semanticEquals(p2)
      if p.deterministic && lo.deterministic && hi.deterministic
      if p.dataType.isInstanceOf[NumericType] &&
         lo.dataType.isInstanceOf[NumericType] &&
         hi.dataType.isInstanceOf[NumericType]
      sides <- sidesOf(j, p, lo, hi)
    } yield (p, lo, hi, sides)
    candidates.headOption.map { case (p, lo, hi, pointIsLeft) =>
      val bucket = (e: Expression) =>
        Floor(Divide(Cast(e, DoubleType), Literal(width)))
      // Point side: exactly one bucket per row.
      val pAlias = Alias(bucket(p), "_graft_pbucket")()
      // Interval side: one row per covered bucket; an inverted interval
      // (hi < lo) covers none, preserving its original empty match set.
      val lob = bucket(lo)
      val hib = bucket(hi)
      val seq = If(GreaterThanOrEqual(hib, lob),
        Sequence(lob, hib, Some(Literal(1L)), Some(conf.sessionLocalTimeZone)),
        Literal.create(Array.empty[Long],
          org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)))
      // nullability must mirror Explode's element schema exactly
      val gAttr = AttributeReference("_graft_ibucket", LongType,
        nullable = false)()
      val (pointPlan, intervalPlan) =
        if (pointIsLeft) (j.left, j.right) else (j.right, j.left)
      val projected = Project(pointPlan.output :+ pAlias, pointPlan)
      val generated = Generate(Explode(seq), unrequiredChildIndex = Nil,
        outer = false, qualifier = None, generatorOutput = Seq(gAttr),
        child = intervalPlan)
      val newCond = And(cond, EqualTo(pAlias.toAttribute, gAttr))
      val (newLeft, newRight) =
        if (pointIsLeft) (projected, generated) else (generated, projected)
      Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
    }
  }

  /** The INTERVAL-OVERLAP class (`lo1 <= hi2 AND lo2 <= hi1` — q89's
    * manual shape): both sides explode to their covered buckets and the
    * pair is kept only in the MEETING BUCKET `floor(greatest(lo1, lo2)/W)`
    * — overlap ⟹ max(lo) ≤ min(hi), so that bucket lies inside BOTH
    * exploded ranges: every qualifying pair meets exactly once, no dedup
    * pass. Each side explodes over `[least(lo,hi), greatest(lo,hi)]`
    * (not `[lo, hi]`): an INVERTED interval can still satisfy the raw
    * overlap predicate, and the min/max normalization keeps the
    * completeness proof intact for it (meet = lo1 ≤ max(lo1,hi1); meet =
    * lo2 ≤ hi1 ≤ max(lo1,hi1) by the predicate, and symmetrically).
    * The bucket-equality conjunct is the extractable equi key; the
    * meeting-bucket conjunct (mixed-side refs) rides along as the
    * join's residual filter, like the original predicate.
    */
  private def rewriteOverlap(j: Join, cond: Expression,
                             width: Double): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // X bounded above by B, from either comparison direction
    val uppers = conjuncts.collect {
      case LessThanOrEqual(x, b)    => (x, b)
      case LessThan(x, b)           => (x, b)
      case GreaterThanOrEqual(b, x) => (x, b)
      case GreaterThan(b, x)        => (x, b)
    }
    def numeric(e: Expression) = e.dataType.isInstanceOf[NumericType]
    val candidates = for {
      (lo1, hi2) <- uppers // lo1 <= hi2: left lower bound vs right upper
      (lo2, hi1) <- uppers // lo2 <= hi1: right lower bound vs left upper
      if Seq(lo1, hi1, lo2, hi2).forall(e =>
        e.deterministic && numeric(e) && e.references.nonEmpty)
      if lo1.references.subsetOf(j.left.outputSet) &&
         hi1.references.subsetOf(j.left.outputSet) &&
         lo2.references.subsetOf(j.right.outputSet) &&
         hi2.references.subsetOf(j.right.outputSet)
    } yield (lo1, hi1, lo2, hi2)
    candidates.headOption.map { case (lo1, hi1, lo2, hi2) =>
      val bucket = (e: Expression) =>
        Floor(Divide(Cast(e, DoubleType), Literal(width)))
      def gen(side: LogicalPlan, lo: Expression, hi: Expression, name: String) = {
        val seq = Sequence(bucket(Least(Seq(lo, hi))),
          bucket(Greatest(Seq(lo, hi))), Some(Literal(1L)),
          Some(conf.sessionLocalTimeZone))
        val attr = AttributeReference(name, LongType, nullable = false)()
        (Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
          qualifier = None, generatorOutput = Seq(attr), child = side), attr)
      }
      val (genL, bL) = gen(j.left, lo1, hi1, "_graft_lbucket")
      val (genR, bR) = gen(j.right, lo2, hi2, "_graft_rbucket")
      val meet = bucket(Greatest(Seq(lo1, lo2)))
      val newCond = And(And(cond, EqualTo(bL, bR)), EqualTo(bL, meet))
      Project(j.output, Join(genL, genR, Inner, Some(newCond), j.hint))
    }
  }

  /** Some(true) if the point comes from the left and both bounds from the
    * right, Some(false) for the mirror, None otherwise.
    */
  private def sidesOf(j: Join, p: Expression, lo: Expression,
                      hi: Expression): Option[Boolean] = {
    val boundRefs = lo.references ++ hi.references
    if (p.references.nonEmpty && boundRefs.nonEmpty &&
        p.references.subsetOf(j.left.outputSet) &&
        boundRefs.subsetOf(j.right.outputSet)) Some(true)
    else if (p.references.nonEmpty && boundRefs.nonEmpty &&
        p.references.subsetOf(j.right.outputSet) &&
        boundRefs.subsetOf(j.left.outputSet)) Some(false)
    else None
  }
}
