package graft.routing

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.GraftBridge

/** Hoist repeated JSON-derivation subexpressions out of a routing predicate
  * into per-row columns — manual common-subexpression elimination for the
  * one place codegen's own CSE cannot reach.
  *
  * Why it exists (r16, guide §1.2 / §4): a draft-04 payload validator is a
  * deep CASE/AND/OR tree in which the same raw-JSON derivations recur —
  * `json_object_keys(raw)` in both `maxProperties` and
  * `additionalProperties`, one `try_parse_json(raw)` per union-type check,
  * the `from_json` map behind `patternProperties`. Whole-stage codegen's
  * subexpression elimination only dedupes subexpressions that are evaluated
  * UNCONDITIONALLY within an operator; everything inside a CASE branch or
  * the right leg of a short-circuit AND/OR is conditional, so each
  * occurrence re-parses the payload at runtime (measured: the dominant
  * per-row cost of every raw-keyed routing row). Hoisting each repeated
  * derivation into its own projected column makes every later occurrence an
  * attribute read.
  *
  * The trade: a hoisted parse runs once for EVERY row, including rows an
  * earlier branch (bad envelope, unregistered schema) would have
  * short-circuited past. One unconditional parse beats 2–4 conditional
  * ones on any row mix where most rows reach payload validation — the
  * routing contract's normal case. Only `try_`-style / NULL-yielding
  * derivations are hoisted (the allowlist below), so evaluating them on
  * rows that never needed them cannot throw.
  *
  * Mechanics: bottom-up fixpoint — repeatedly find the SMALLEST repeated
  * lambda-free JSON-derivation subtree, land it as a column, and substitute
  * an attribute reference everywhere it occurred (later, larger hoists then
  * reference earlier columns, so columns are emitted in dependency order).
  * Everything stays a projection: no shuffle, no extra scan, and the
  * hoisted columns are dropped from the visible schema by the caller.
  */
private[routing] object JsonCse {

  /** Function names (unresolved-API view) whose evaluation parses JSON /
    * variant text — expensive enough to hoist, NULL-safe to run eagerly.
    * The throwing forms (`parse_json`, `variant_get`, `schema_of_variant`)
    * are left out: hoisted, they would run on rows the CASE never sends
    * them to and fail the batch there. `from_json` / `from_csv` stay:
    * their default PERMISSIVE mode yields NULL on malformed text, and the
    * routing constraints pass no `mode` option.
    */
  private val jsonFnNames = Set(
    "get_json_object", "json_object_keys", "from_json", "try_parse_json",
    "try_variant_get", "schema_of_json", "json_array_length", "from_csv")

  /** Post-substitution class names for the same family (some builders emit
    * catalyst nodes directly rather than UnresolvedFunction).
    */
  private val jsonNodeClasses = Set(
    "JsonToStructs", "GetJsonObject", "JsonObjectKeys", "TryParseJson",
    "LengthOfJsonArray", "CsvToStructs")

  private def isJsonDerivation(e: Expression): Boolean = e match {
    case f: UnresolvedFunction => jsonFnNames.contains(f.nameParts.last.toLowerCase)
    case _ => jsonNodeClasses.contains(e.getClass.getSimpleName)
  }

  /** Hoisted-column budget per predicate: a fixpoint that still finds
    * repeated derivations after this many hoists logs one warning and
    * leaves the rest inline.
    */
  private val MaxHoisted = 16

  /** Name prefix of the hoisted columns (`__graft_route_cse0`, …). */
  val ColPrefix = "__graft_route_cse"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Lambda-free JSON derivations occurring at least twice in `e`, in
    * deterministic first-seen order (so ties in size pick stably).
    */
  private def repeatedDerivations(e: Expression): Seq[Expression] = {
    val counts = new java.util.LinkedHashMap[Expression, Integer]()
    e.foreach { x =>
      if (isJsonDerivation(x) && lambdaFree(x))
        counts.merge(x, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
    }
    import scala.jdk.CollectionConverters._
    counts.asScala.collect { case (x, c) if c >= 2 => x }.toSeq
  }

  /** A subtree that references a lambda variable cannot be hoisted out of
    * its higher-order function.
    */
  private def lambdaFree(e: Expression): Boolean =
    !e.exists { x =>
      val n = x.getClass.getSimpleName
      n == "UnresolvedNamedLambdaVariable" || n == "NamedLambdaVariable"
    }

  private def treeSize(e: Expression): Int = {
    var n = 0
    e.foreach(_ => n += 1)
    n
  }

  /** Returns (df + hoisted columns, rewritten predicate, hoisted names).
    * Each hoisted column is wrapped in `when(gate, …)` so the parse runs
    * only on rows the caller says can reach the expression — rows an
    * earlier short-circuit branch claims never pay it (the gate re-checks
    * those branch conditions, which are cheap null/equality tests).
    */
  def hoist(df: DataFrame, pred: Column, gate: Column): (DataFrame, Column, Seq[String]) = {
    var cur: Expression = GraftBridge.expression(pred)
    var out = df
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var repeated = repeatedDerivations(cur)
    while (repeated.nonEmpty && names.size < MaxHoisted) {
      val pick = repeated.minBy(treeSize)
      val name = s"$ColPrefix${names.size}"
      out = out.withColumn(name,
        org.apache.spark.sql.functions.when(gate, GraftBridge.column(pick)))
      cur = cur.transform { case e if e == pick => UnresolvedAttribute(Seq(name)) }
      names += name
      repeated = repeatedDerivations(cur)
    }
    if (repeated.nonEmpty)
      log.warn(s"JsonCse: hoist limit of $MaxHoisted columns reached; " +
        s"${repeated.size} repeated JSON derivations stay inline")
    (out, GraftBridge.column(cur), names.toSeq)
  }
}
