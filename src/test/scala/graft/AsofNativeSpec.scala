package graft

import org.apache.spark.sql.functions._
import graft.ops.{AsofJoin, AsofJoinNative}

/** The native as-of join operator (LogicalPlan + Strategy + SparkPlan):
  * differential-tested against the composed union+carry-forward form,
  * plan shape asserted (our exec node, one exchange per side).
  */
class AsofNativeSpec extends SparkSpec {

  import spark.implicits._

  test("native asofJoin ≡ composed form on random keyed data; plan is AsofJoinExec") {
    val rnd = new scala.util.Random(42)
    val lRows = Seq.fill(400)((s"u${rnd.nextInt(9)}", rnd.nextInt(60).toLong, rnd.nextInt(100)))
    val rRows = Seq.fill(200)((s"u${rnd.nextInt(9)}", rnd.nextInt(60).toLong, rnd.nextInt(100)))
    val left = lRows.toDF("k", "ts", "lv").distinct()
    val right = rRows.toDF("k", "ts", "rv")
      .groupBy("k", "ts").agg(max("rv").as("rv")) // unique per (k, ts)

    val native = AsofJoinNative.asofJoin(left, right, Seq("k"), "ts")
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin "), plan) // our exec node planned
    // EnsureRequirements feeds the operator directly with Sorts (no
    // extra exchange between the sort and the asof merge)
    assert(plan.contains("AsofJoin"), plan)

    val nativeRows = native
      .toDF("k", "ts", "lv", "rk", "rts", "rv")
      .select("k", "ts", "lv", "rts", "rv")
      .collect().map(_.toSeq).toSet
    val composed = AsofJoin.asofJoin(left, right, Seq("k"), "ts")
      .select(col("k"), col("ts"), col("lv"),
        col("r_ts").as("rts"), col("r_rv").as("rv"))
      .collect().map(_.toSeq).toSet
    assert(nativeRows == composed)
  }

  test("native asofJoin self-join (shared lineage) binds right columns correctly") {
    // both sides slice the SAME DataFrame — without re-aliasing, left and
    // right would share exprIds and right refs would bind to left columns
    val ev = Seq(("a", 1L, 10), ("a", 2L, 20), ("a", 3L, 30), ("a", 4L, 40))
      .toDF("k", "ts", "v")
    val left = ev.filter(col("v") % 20 === 10)  // ts 1, 3
    val right = ev.filter(col("v") % 20 === 0)  // ts 2, 4
    val out = AsofJoinNative.asofJoin(left, right, Seq("k"), "ts")
      .toDF("k", "ts", "v", "rk", "rts", "rv")
      .orderBy("ts").collect()
    assert(out.length == 2)
    assert(out(0).isNullAt(4))              // ts=1: no right row ≤ 1
    assert(out(1).getLong(4) == 2L &&       // ts=3 matches right ts=2
      out(1).getInt(5) == 20)
  }

  test("native asofJoin: null right timestamps are skipped, not match-blocking") {
    // the null-ts row sorts NULLS FIRST; the valid ts=3 row behind it
    // must still be found
    val left = Seq(("a", 5L, 1)).toDF("k", "ts", "lv")
    val right = Seq(("a", Option.empty[Long], 99), ("a", Some(3L), 7))
      .toDF("k", "ts", "rv")
    val out = AsofJoinNative.asofJoin(left, right, Seq("k"), "ts").collect()
    assert(out.length == 1)
    assert(out(0).getLong(4) == 3L && out(0).getInt(5) == 7)
  }

  test("native asofJoin: empty right side → all-NULL right columns") {
    val left = Seq(("a", 1L, 10)).toDF("k", "ts", "lv")
    val right = Seq.empty[(String, Long, Int)].toDF("k", "ts", "rv")
    val out = AsofJoinNative.asofJoin(left, right, Seq("k"), "ts").collect()
    assert(out.length == 1)
    assert(out(0).isNullAt(4) && out(0).isNullAt(5))
  }
}
