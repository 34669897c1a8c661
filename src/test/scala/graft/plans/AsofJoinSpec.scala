package graft.plans

import graft.SparkTestBase
import graft.operators.{CoreQueries, ExtendedQueries}

class AsofJoinSpec extends SparkTestBase {

  test("custom as-of exec appears in the plan with co-partitioned sorted inputs") {
    val df = ExtendedQueries.qAsofCustom(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin "), plan.take(2000)) // exec prints without the Exec suffix
    // both children hash-partitioned on the key and sorted
    assert(plan.contains("hashpartitioning(user_id"), "key exchange expected")
    assert(plan.contains("Sort ["), "within-partition sort expected")
  }

  test("custom as-of equals the window-composed form row for row") {
    val custom = ExtendedQueries.qAsofCustom(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (Option(r.get(3)), Option(r.get(4)))).toMap
    val window = CoreQueries.qAsofJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (Option(r.get(3)), Option(r.get(4)))).toMap
    assert(custom.size == window.size)
    assert(custom == window)
  }

  test("no prior right row yields null, equal timestamps match inclusively") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 11L, 200L), (1L, 12L, 300L),
      (2L, 13L, 50L)).toDF("k", "id", "t")
    val right = Seq((1L, 5L, 200L), (1L, 91L, 200L), (3L, 92L, 10L))
      .toDF("k", "id", "t")
    val out = AsofJoin(left, right, key = "k", time = "t", tie = "id",
        outName = "matched")
      .collect().map(r => r.getLong(1) -> Option(r.get(3))).toMap
    assert(out(10L).isEmpty)          // t=100 before any right row
    assert(out(11L).contains(200L))   // equal t: right tie 5 <= 11 matches,
                                      // right tie 91 > 11 is excluded
    assert(out(12L).contains(200L))   // strictly later left sees both
    assert(out(13L).isEmpty)          // key 2 has no right rows
  }

  test("null keys and times never match") {
    val s = spark
    import s.implicits._
    val left = Seq((Some(1L), 10L, Some(500L)), (None, 11L, Some(500L)),
      (Some(1L), 12L, None)).toDF("k", "id", "t")
    val right = Seq((Some(1L), 90L, Some(100L)), (None, 91L, Some(100L)))
      .toDF("k", "id", "t")
    val out = AsofJoin(left, right, key = "k", time = "t", tie = "id",
        outName = "matched")
      .collect().map(r => r.getLong(1) -> Option(r.get(3))).toMap
    assert(out(10L).contains(100L))   // real match unaffected
    assert(out(11L).isEmpty)          // null left key
    assert(out(12L).isEmpty)          // null left time
  }
}
