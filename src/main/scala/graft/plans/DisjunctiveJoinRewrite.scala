package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: disjunctive alternate-key join → union of equi-joins.
  *
  * The reference's airline/airport lookup joins on an OR of two key paths
  * (`load_warehouse.py:215-235`):
  * {{{ ON (a.iata = l.airline_iata)
  *     OR (l.airline_iata IS NULL AND a.icao = l.airline_icao) }}}
  * Postgres nested-loops that condition; Spark plans it as a
  * BroadcastNestedLoopJoin — O(|L|·|R|) comparisons, the one join shape
  * that cannot survive a 100 TB fact side. The two disjuncts are
  * *provably disjoint* on a streaming-side predicate (`iata IS NULL`),
  * so the join is really two independent equi-joins. This rule performs
  * that rewrite inside Catalyst, so a user can write the natural OR
  * condition and still get hash joins:
  *
  * {{{ Join(L, R, jt, (d1) OR (IsNull(a) AND d2))
  *     ==> Union(Join(σ_{a IS NOT NULL} L, R, jt, d1),
  *               Join(σ_{a IS NULL}     L, R, jt, IsNull(a) AND d2)) }}}
  *
  * Soundness — the rewrite fires only when ALL hold:
  *  - one disjunct (`fallback`) has a conjunct `IsNull(a)` for an
  *    attribute `a` of one join side (the partitioned side);
  *  - the other disjunct (`primary`) *null-rejects* `a`: it has a
  *    conjunct that is `IsNotNull(a)` or a null-intolerant binary
  *    comparison with `a` as a direct operand (`EqualNullSafe` is
  *    excluded — `NULL <=> x` can be TRUE). Then no row can satisfy
  *    both disjuncts, and each partition of the partitioned side can
  *    match only its own disjunct;
  *  - both disjuncts are deterministic and contain an equi conjunct
  *    (one side's references from L, the other's from R), so each
  *    branch plans as a hash join — otherwise the rewrite would just
  *    split one nested loop into two;
  *  - the join type preserves/filters only rows of the partitioned
  *    side: partitioning L is sound for Inner / LeftOuter / LeftSemi /
  *    LeftAnti; partitioning R for Inner / RightOuter. (A FullOuter
  *    would emit unmatched rows of the *other* side once per branch —
  *    never rewritten.)
  *
  * Each branch keeps its full disjunct as the join condition (the
  * `IsNull(a)` conjunct is redundant under the filter but harmless —
  * equi-key extraction still finds the hashable conjunct). The
  * partition filters land directly above the partitioned side's scan
  * via normal filter pushdown, so the side is read once per branch with
  * complementary predicates; the other side's subtree is shared and
  * physically deduplicated by exchange/subquery reuse.
  *
  * Registered via `SparkSessionExtensions.injectOptimizerRule`
  * ([[graft.GraftExtensions]]). Runs to fixpoint safely:
  * rewritten branches carry non-disjunctive conditions.
  */
object DisjunctiveJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(_, _, _, Some(Or(d1, d2)), _)
        if d1.deterministic && d2.deterministic =>
      tryRewrite(j, d1, d2).orElse(tryRewrite(j, d2, d1)).getOrElse(j)
  }

  /** Attempt the rewrite with `fallback` as the IsNull-guarded disjunct. */
  private def tryRewrite(j: Join, primary: Expression,
      fallback: Expression): Option[LogicalPlan] = {
    if (!hasEquiConjunct(primary, j) || !hasEquiConjunct(fallback, j)) return None
    val partitionAttrs = splitConjunctivePredicates(fallback)
      .collect { case IsNull(a: Attribute) => a }
    partitionAttrs.collectFirst {
      case a if j.left.outputSet.contains(a) && leftPartitionable(j.joinType) &&
          nullRejects(primary, a) =>
        Union(
          Join(Filter(IsNotNull(a), j.left), j.right, j.joinType,
            Some(primary), j.hint),
          Join(Filter(IsNull(a), j.left), j.right, j.joinType,
            Some(fallback), j.hint))
      case a if j.right.outputSet.contains(a) && rightPartitionable(j.joinType) &&
          nullRejects(primary, a) =>
        Union(
          Join(j.left, Filter(IsNotNull(a), j.right), j.joinType,
            Some(primary), j.hint),
          Join(j.left, Filter(IsNull(a), j.right), j.joinType,
            Some(fallback), j.hint))
    }
  }

  /** Join types that emit each left row (or its matches) exactly once
    * when the left side is partitioned by a predicate over its columns. */
  private def leftPartitionable(jt: JoinType): Boolean = jt match {
    case Inner | LeftOuter | LeftSemi | LeftAnti => true
    case _ => false
  }

  /** Symmetric condition for partitioning the right side. (LeftSemi /
    * LeftAnti are NOT sound here: a left row matching both right
    * partitions would be emitted twice / wrongly kept.) */
  private def rightPartitionable(jt: JoinType): Boolean = jt match {
    case Inner | RightOuter => true
    case _ => false
  }

  /** `cond` cannot evaluate to TRUE when `a` is NULL: some conjunct is
    * IsNotNull(a) or a null-intolerant comparison touching `a` directly. */
  private def nullRejects(cond: Expression, a: Attribute): Boolean =
    splitConjunctivePredicates(cond).exists {
      case IsNotNull(x) => x.semanticEquals(a)
      case _: EqualNullSafe => false
      case c: BinaryComparison =>
        c.left.semanticEquals(a) || c.right.semanticEquals(a)
      case _ => false
    }

  /** Some conjunct is an equality with one side referencing only L and
    * the other only R — the branch will plan as a hash join. */
  private def hasEquiConjunct(cond: Expression, j: Join): Boolean =
    splitConjunctivePredicates(cond).exists {
      case Equality(l, r) =>
        (l.references.nonEmpty && r.references.nonEmpty) &&
          ((l.references.subsetOf(j.left.outputSet) &&
            r.references.subsetOf(j.right.outputSet)) ||
           (r.references.subsetOf(j.left.outputSet) &&
            l.references.subsetOf(j.right.outputSet)))
      case _ => false
    }
}
