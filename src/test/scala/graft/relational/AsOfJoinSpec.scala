package graft.relational

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("backward as-of picks nearest earlier right row, inclusive on ties") {
    val left = Seq(("k1", 10L, "L10"), ("k1", 20L, "L20"), ("k1", 5L, "L5"),
      ("k2", 10L, "M10")).toDF("key", "t", "lv")
    val right = Seq(("k1", 8L, "R8"), ("k1", 10L, "R10"), ("k1", 15L, "R15"),
      ("k3", 1L, "X")).toDF("key", "t", "rv")

    val got = AsOfJoin.backward(left, right, Seq("key"), "t", "t", Seq("rv"))
      .select("key", "t", "lv", "asof_rv").as[(String, Long, String, String)]
      .collect().toSet

    assert(got === Set(
      ("k1", 10L, "L10", "R10"),  // tie: right at t=10 visible (inclusive)
      ("k1", 20L, "L20", "R15"),
      ("k1", 5L, "L5", null),     // nothing earlier → null (left-join shape)
      ("k2", 10L, "M10", null)))  // key with no right rows at all
  }

  test("forward as-of picks nearest later right row, inclusive on ties") {
    val left = Seq(("k1", 10L, "L10"), ("k1", 20L, "L20"), ("k1", 30L, "L30"),
      ("k2", 10L, "M10")).toDF("key", "t", "lv")
    val right = Seq(("k1", 10L, "R10"), ("k1", 25L, "R25"),
      ("k3", 1L, "X")).toDF("key", "t", "rv")

    val got = AsOfJoin.forward(left, right, Seq("key"), "t", "t", Seq("rv"))
      .select("key", "t", "lv", "asof_rv").as[(String, Long, String, String)]
      .collect().toSet

    assert(got === Set(
      ("k1", 10L, "L10", "R10"),  // tie: right at t=10 visible (inclusive)
      ("k1", 20L, "L20", "R25"),
      ("k1", 30L, "L30", null),   // nothing later → null (left-join shape)
      ("k2", 10L, "M10", null)))  // key with no right rows at all
  }

  test("backwardWithin nulls stale matches; nearest-then-check, not window-scan") {
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val left = Seq(("k", t(1000), "L")).toDF("key", "ts", "lv")
    // nearest earlier right is at t=990 (10s gap); an older one at t=900
    // sits inside no window once the nearest is chosen
    val right = Seq(("k", t(900), "OLD"), ("k", t(990), "NEAR")).toDF("key", "ts", "rv")
    val within = AsOfJoin.backwardWithin(left, right, Seq("key"), "ts", "ts",
      Seq("rv"), toleranceSeconds = 20)
      .select("asof_rv").as[String].head()
    assert(within === "NEAR")
    val tooTight = AsOfJoin.backwardWithin(left, right, Seq("key"), "ts", "ts",
      Seq("rv"), toleranceSeconds = 5)
      .select("asof_rv").as[String].collect()
    assert(tooTight === Array(null)) // left row survives, match nulled
  }

  test("NULL in a carried column of the matched row stays NULL (no leak from older rows)") {
    // right@t=8 has rv="R8"; right@t=10 has rv=NULL. A left row at t=12 must
    // carry the matched row's NULL, not leak R8 from the older row. Second
    // carried column proves all values come from the same matched row.
    val left = Seq(("k", 12L, "L")).toDF("key", "t", "lv")
    val right = Seq(("k", 8L, Option("R8"), 80L), ("k", 10L, None: Option[String], 100L))
      .toDF("key", "t", "rv", "rn")

    val got = AsOfJoin.backward(left, right, Seq("key"), "t", "t", Seq("rv", "rn"))
      .select("key", "t", "asof_rv", "asof_rn").as[(String, Long, Option[String], Long)]
      .collect().toSeq

    assert(got === Seq(("k", 12L, None, 100L)))
  }

  test("NULL time columns follow DuckDB ASOF: nulls never match, lefts kept") {
    // DuckDB's l.t >= r.t is NULL on NULL ⇒ no match: a null-time right row
    // must never be picked (even by a null-time left), and a null-time left
    // row is emitted unmatched — in both directions
    val l = Seq((1L, Some(10L), "lt"), (1L, None, "ln"), (2L, None, "ln2"))
      .toDF("k", "t", "v")
    val r = Seq((1L, Some(5L), "rt"), (1L, None, "rn"), (2L, None, "rn2"))
      .toDF("k", "rt", "w")
    val back = AsOfJoin.backward(l, r, Seq("k"), "t", "rt", Seq("w"))
      .select("v", "asof_w").as[(String, Option[String])].collect().toMap
    assert(back === Map("lt" -> Some("rt"), "ln" -> None, "ln2" -> None))
    val fwd = AsOfJoin.forward(l, r, Seq("k"), "t", "rt", Seq("w"))
      .select("v", "asof_w").as[(String, Option[String])].collect().toMap
    // forward from t=10 finds nothing at-or-after (only right is at 5)
    assert(fwd === Map("lt" -> None, "ln" -> None, "ln2" -> None))
  }

  test("plan is union+window: no nested-loop join node") {
    val left = Seq(("k", 1L, "a")).toDF("key", "t", "lv")
    val right = Seq(("k", 1L, "b")).toDF("key", "t", "rv")
    val plan = AsOfJoin.backward(left, right, Seq("key"), "t", "t", Seq("rv"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"as-of must not nested-loop:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }
}
