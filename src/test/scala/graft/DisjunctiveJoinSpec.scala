package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Join, Union}
import org.apache.spark.sql.catalyst.expressions.Or

import graft.plans.DisjunctiveJoinRewrite

/** [[graft.plans.DisjunctiveJoinRewrite]]: the OR-join → union-of-equi-
  * joins optimizer rule, which the suite session carries through
  * `GraftExtensions`. Equivalence is checked against the SAME query with
  * the rule excluded (Spark's own BroadcastNestedLoopJoin answers it);
  * scope tests pin exactly which join types / condition shapes may
  * rewrite, because an over-eager match here is a wrong-results bug. */
class DisjunctiveJoinSpec extends SparkSpec {

  import spark.implicits._

  // left: id, k1 (alternate key, nullable), k2 (fallback key)
  private lazy val left = Seq[(Int, java.lang.Long, Long)](
    (1, 10L, 100L), // matches right via k1
    (2, null, 100L), // k1 null → fallback k2 match
    (3, 30L, 300L), // k1 match AND k2 would match: must not duplicate
    (4, null, 999L), // k1 null, no k2 match → outer-preserved
    (5, 50L, 500L) // k1 no match, k1 non-null → d2 must NOT fire
  ).toDF("id", "k1", "k2")

  private lazy val right = Seq[(Long, Long, String)](
    (10L, 100L, "a"), (30L, 300L, "b"), (100L, 100L, "c"), (500L, 500L, "d")
  ).toDF("rk1", "rk2", "payload")

  private def orCond =
    col("k1") === col("rk1") ||
      (col("k1").isNull && col("k2") === col("rk2"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def hasUnion(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case u: Union => u }.nonEmpty

  private def hasOrJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case j: Join if j.condition.exists(_.isInstanceOf[Or]) => j
    }.nonEmpty

  private def rewritten(df: DataFrame): Boolean = hasUnion(df) && !hasOrJoin(df)

  /** The nested-loop answer: the same join planned with the rule
    * excluded, so the reference never runs the rule it checks. */
  private def naive(df: => DataFrame): Seq[String] = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, DisjunctiveJoinRewrite.ruleName)
    try {
      val ref = df
      assert(hasOrJoin(ref) && !hasUnion(ref),
        ref.queryExecution.optimizedPlan.toString)
      rows(ref)
    } finally spark.conf.unset(key)
  }

  for (jt <- Seq("inner", "left", "left_semi", "left_anti")) {
    test(s"$jt: rewrite fires and matches the nested-loop answer") {
      val ref = naive(left.join(right, orCond, jt))
      val df = left.join(right, orCond, jt)
      assert(rewritten(df), df.queryExecution.optimizedPlan.toString)
      assert(rows(df) == ref)
    }
  }

  test("left join: per-row multiplicities exactly match the OR semantics") {
    val out = left.join(right, orCond, "left")
      .groupBy("id").count().as[(Int, Long)].collect().toMap
    // id=2 (k1 null) matches BOTH rk2=100 right rows via the fallback
    // key — two rows is the correct OR-join answer, not a dup; id=3
    // (k1 match, k2 would also match) must NOT double-emit because d2's
    // IsNull guard is false for it
    assert(out == Map(1 -> 1L, 2 -> 2L, 3 -> 1L, 4 -> 1L, 5 -> 1L), out.toString)
  }

  test("physical plan: no BroadcastNestedLoopJoin once the rule is attached") {
    val p = left.join(right, orCond, "left").queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(1200))
  }

  test("IsNull guard on the RIGHT side: inner/right rewrite, left does not") {
    // right-partitioned shape: R.rk1 may be null, fallback on rk2
    val r2 = Seq[(java.lang.Long, Long, String)](
      (10L, 100L, "a"), (null, 100L, "b"), (null, 999L, "c"))
      .toDF("rk1", "rk2", "payload")
    val cond = col("k1") === col("rk1") ||
      (col("rk1").isNull && col("k2") === col("rk2"))
    for (jt <- Seq("inner", "right")) {
      val ref = naive(left.join(r2, cond, jt))
      val df = left.join(r2, cond, jt)
      assert(rewritten(df), s"$jt should rewrite")
      assert(rows(df) == ref, jt)
    }
    // partitioning R under a LEFT outer would duplicate unmatched L rows
    assert(!rewritten(left.join(r2, cond, "left")))
  }

  test("scope: full outer, null-safe primary, and non-equi disjuncts never rewrite") {
    assert(!rewritten(left.join(right, orCond, "full")))
    // <=> can be TRUE on a NULL key: disjuncts not provably disjoint
    val nullSafe = col("k1") <=> col("rk1") ||
      (col("k1").isNull && col("k2") === col("rk2"))
    assert(!rewritten(left.join(right, nullSafe, "left")))
    // no equi conjunct in the primary disjunct → branches would still
    // be nested loops; rewrite declines
    val nonEqui = col("k1") > col("rk1") ||
      (col("k1").isNull && col("k2") === col("rk2"))
    assert(!rewritten(left.join(right, nonEqui, "left")))
  }

  test("primary null-rejects via its own comparison even without IsNotNull conjunct") {
    // d1 = (k1 = rk1 AND k2 < rk2): still null-rejecting on k1
    val cond = (col("k1") === col("rk1") && col("k2") < col("rk2")) ||
      (col("k1").isNull && col("k2") === col("rk2"))
    val ref = naive(left.join(right, cond, "left"))
    val df = left.join(right, cond, "left")
    assert(rewritten(df))
    assert(rows(df) == ref)
  }
}
