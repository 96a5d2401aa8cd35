package graft.routing

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The hoist allowlist: only NULL-yielding JSON derivations may run
  * unconditionally per row, so a throwing form must stay inside the branch
  * that guards it.
  */
class JsonCseSpec extends SparkSpec {
  import spark.implicits._

  private def raw = Seq("""{"a":1}""", "not json").toDF("raw")

  test("a repeated parse_json (throws on malformed text) is not hoisted") {
    val p = parse_json(col("raw"))
    val (_, _, names) =
      JsonCse.hoist(raw, p.isNotNull && schema_of_variant(p) =!= lit("VOID"), lit(true))
    assert(names.isEmpty)
  }

  test("a repeated try_parse_json hoists once; variant_get over it stays inline") {
    val g = variant_get(try_parse_json(col("raw")), "$.a", "int")
    val (out, pred, names) = JsonCse.hoist(raw, g.isNotNull && g > 0, lit(true))
    assert(names === Seq(s"${JsonCse.ColPrefix}0"))
    val got = out.filter(col("raw").startsWith("{")).select(pred).as[Boolean].collect()
    assert(got.toSeq === Seq(true))
  }

  test("the fixpoint stops at the hoist limit and leaves the rest inline") {
    val keys = (0 until 20).map(i => get_json_object(col("raw"), s"$$.k$i"))
    val pred = keys.map(k => k.isNull || k =!= lit("x")).reduce(_ && _) &&
      keys.map(_.isNotNull).reduce(_ || _).isNull
    val (out, rewritten, names) = JsonCse.hoist(raw, pred, lit(true))
    assert(names.size === 16)
    assert(out.select(rewritten).as[Option[Boolean]].collect().forall(_.contains(false)))
  }
}
