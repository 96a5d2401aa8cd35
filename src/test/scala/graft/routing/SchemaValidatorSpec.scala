package graft.routing

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Table-driven checks that the widened constraint surface (anyOf, array
  * items bounds, per-element array constraints) matches AJV draft-04
  * outcomes for the same schemas: each case states the JSON document and the
  * verdict AJV would give.
  */
class SchemaValidatorSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.types._

  private val docType = StructType(Seq(
    StructField("kind", StringType),
    StructField("qty", LongType),
    StructField("tags", ArrayType(StringType)),
    StructField("lines", ArrayType(StructType(Seq(
      StructField("sku", StringType),
      StructField("n", LongType)))))))

  private def verdicts(schema: RegisteredSchema,
                       cases: Seq[(String, String, Boolean)]): Unit = {
    val df = cases.toDF("name", "json", "expected")
      .withColumn("doc", from_json(col("json"), docType))
      .withColumn("got", schema.valid(col("doc")))
    val wrong = df.filter(col("got") =!= col("expected"))
      .select("name", "got", "expected").collect()
    assert(wrong.isEmpty, s"AJV-divergent verdicts: ${wrong.mkString(", ")}")
  }

  test("anyOf: one alternative constraint set must fully hold") {
    // anyOf: [{kind=bulk AND qty>=100}, {kind=single AND qty<=1}]
    val schema = RegisteredSchema("t/1", Seq(AnyOf(Seq(
      Seq(EnumIn("kind", Seq("bulk")), Required("qty"), NumRange("qty", Some(100), None)),
      Seq(EnumIn("kind", Seq("single")), Required("qty"), NumRange("qty", None, Some(1)))))))
    verdicts(schema, Seq(
      ("bulk big", """{"kind":"bulk","qty":500}""", true),
      ("single one", """{"kind":"single","qty":1}""", true),
      ("bulk small fails both", """{"kind":"bulk","qty":5}""", false),
      // kind=null: EnumIn is vacuous on null (AJV: enum only sees present
      // values), so the 2nd alternative (qty<=1) holds
      ("no kind small qty", """{"qty":1}""", true),
      ("no kind mid qty", """{"qty":50}""", false)))
  }

  test("empty anyOf is vacuously invalid (AJV anyOf:[])") {
    val schema = RegisteredSchema("t/1", Seq(AnyOf(Nil)))
    verdicts(schema, Seq(("anything", """{"kind":"x"}""", false)))
  }

  test("minItems/maxItems bound array length; absent array is valid") {
    val schema = RegisteredSchema("t/1", Seq(ArrayItems("tags", Some(1), Some(3))))
    verdicts(schema, Seq(
      ("one tag", """{"tags":["a"]}""", true),
      ("three tags", """{"tags":["a","b","c"]}""", true),
      ("empty under min", """{"tags":[]}""", false),
      ("four over max", """{"tags":["a","b","c","d"]}""", false),
      ("absent array valid", """{"kind":"x"}""", true)))
  }

  test("items: every string element validates against the element schema") {
    val schema = RegisteredSchema("t/1",
      Seq(ArrayAll("tags", Pattern("", "^[a-z]+$"))))
    verdicts(schema, Seq(
      ("all lowercase", """{"tags":["abc","def"]}""", true),
      ("one uppercase fails", """{"tags":["abc","DEF"]}""", false),
      ("empty array valid", """{"tags":[]}""", true),
      ("absent valid", """{"qty":1}""", true)))
  }

  test("items over object arrays: nested field constraints per element") {
    // lines[*].n in [1,10] and lines[*].sku required
    val schema = RegisteredSchema("t/1", Seq(
      ArrayAll("lines", Required("sku")),
      ArrayAll("lines", NumRange("n", Some(1), Some(10)))))
    verdicts(schema, Seq(
      ("all valid", """{"lines":[{"sku":"a","n":1},{"sku":"b","n":10}]}""", true),
      ("n out of range", """{"lines":[{"sku":"a","n":11}]}""", false),
      ("missing sku", """{"lines":[{"n":3}]}""", false),
      // n absent on an element: NumRange is vacuous on null, sku present
      ("n absent vacuous", """{"lines":[{"sku":"a"}]}""", true),
      ("no lines valid", """{"kind":"x"}""", true)))
  }

  test("format validates like AJV for present values; absent is valid") {
    val schema = RegisteredSchema("t/1", Seq(Format("kind", "email")))
    verdicts(schema, Seq(
      ("valid email", """{"kind":"a.user+tag@example.co"}""", true),
      ("no at-sign", """{"kind":"not-an-email"}""", false),
      ("no tld", """{"kind":"a@b"}""", false),
      ("absent valid", """{"qty":1}""", true)))
    val dt = RegisteredSchema("t/2", Seq(Format("kind", "date-time")))
    verdicts(dt, Seq(
      ("zulu", """{"kind":"2026-08-12T10:00:00Z"}""", true),
      ("offset+frac", """{"kind":"2026-08-12T10:00:00.250+02:00"}""", true),
      ("date only fails", """{"kind":"2026-08-12"}""", false)))
    val ip = RegisteredSchema("t/3", Seq(Format("kind", "ipv4")))
    verdicts(ip, Seq(
      ("valid", """{"kind":"192.168.0.255"}""", true),
      ("octet 256", """{"kind":"192.168.0.256"}""", false),
      ("three octets", """{"kind":"10.0.0"}""", false)))
  }

  test("date / uri / hostname formats validate like AJV") {
    verdicts(RegisteredSchema("t/4", Seq(Format("kind", "date"))), Seq(
      ("date", """{"kind":"2026-08-12"}""", true),
      ("datetime not date", """{"kind":"2026-08-12T00:00:00Z"}""", false),
      ("not a date", """{"kind":"august"}""", false)))
    verdicts(RegisteredSchema("t/5", Seq(Format("kind", "uri"))), Seq(
      ("https", """{"kind":"https://example.com/a?b=1"}""", true),
      ("custom scheme", """{"kind":"s3://bucket/key"}""", true),
      ("no scheme", """{"kind":"example.com/a"}""", false),
      ("space", """{"kind":"https://exa mple.com"}""", false)))
    verdicts(RegisteredSchema("t/6", Seq(Format("kind", "hostname"))), Seq(
      ("fqdn", """{"kind":"a-1.example.com"}""", true),
      ("single label", """{"kind":"localhost"}""", true),
      ("leading dash label", """{"kind":"-bad.example.com"}""", false)))
  }

  test("unknown format name fails fast at schema construction") {
    intercept[IllegalArgumentException] {
      RegisteredSchema("t", Seq(Format("kind", "no-such-format"))).valid(col("doc"))
    }
  }

  test("additionalProperties:false over the raw JSON rejects unknown keys") {
    val cases = Seq(
      ("only known keys", """{"kind":"a","qty":1}""", true),
      ("unknown key", """{"kind":"a","extra":1}""", false),
      ("empty object", """{}""", true),
      ("corrupt json is this check's don't-care", """not json""", true))
    val df = cases.toDF("name", "json", "expected")
      .withColumn("got",
        SchemaValidator.noAdditionalProps(col("json"), "$", Seq("kind", "qty")))
    val wrong = df.filter(col("got") =!= col("expected"))
      .select("name", "got", "expected").collect()
    assert(wrong.isEmpty, s"divergent: ${wrong.mkString(", ")}")

    // nested object path
    val nested = Seq(
      ("nested ok", """{"d":{"x":1}}""", true),
      ("nested extra", """{"d":{"x":1,"y":2}}""", false))
      .toDF("name", "json", "expected")
      .withColumn("got",
        SchemaValidator.noAdditionalProps(col("json"), "$.d", Seq("x")))
    assert(nested.filter(col("got") =!= col("expected")).count() === 0)
  }

  test("oneOf: exactly one alternative must hold (AJV counts matches)") {
    // oneOf: [{qty<=10}, {kind=bulk}] — a bulk doc with small qty matches
    // BOTH and must fail, unlike anyOf
    val schema = RegisteredSchema("t/1", Seq(OneOf(Seq(
      Seq(Required("qty"), NumRange("qty", None, Some(10))),
      Seq(Required("kind"), EnumIn("kind", Seq("bulk")))))))
    verdicts(schema, Seq(
      ("small qty only", """{"qty":5}""", true),
      ("bulk only", """{"kind":"bulk","qty":100}""", true),
      ("both match fails", """{"kind":"bulk","qty":5}""", false),
      ("neither fails", """{"kind":"single","qty":100}""", false)))
    // oneOf:[] matches zero subschemas → invalid, like anyOf:[]
    verdicts(RegisteredSchema("t/1", Seq(OneOf(Nil))),
      Seq(("anything", """{"qty":1}""", false)))
  }

  test("allOf nests under combinators; flat conjunction unchanged") {
    val schema = RegisteredSchema("t/1", Seq(OneOf(Seq(
      Seq(AllOf(Seq(Required("kind"), EnumIn("kind", Seq("bulk")),
        Required("qty"), NumRange("qty", Some(100), None)))),
      Seq(AllOf(Seq(Required("qty"), NumRange("qty", None, Some(1)))))))))
    verdicts(schema, Seq(
      ("bulk big", """{"kind":"bulk","qty":500}""", true),
      ("tiny", """{"qty":1}""", true),
      ("bulk small", """{"kind":"bulk","qty":5}""", false)))
  }

  test("not negates the compiled subschema verdict, AJV-style") {
    // not:{enum:[internal]} — absent kind VALIDATES the subschema (enum
    // skips absent values) so `not` rejects it: AJV's exact verdict
    val schema = RegisteredSchema("t/1",
      Seq(Required("kind"), Not(EnumIn("kind", Seq("internal")))))
    verdicts(schema, Seq(
      ("external ok", """{"kind":"public"}""", true),
      ("internal rejected", """{"kind":"internal"}""", false),
      ("absent rejected by required", """{"qty":1}""", false)))
  }

  test("multipleOf: division must be integral; absent is valid") {
    val schema = RegisteredSchema("t/1", Seq(MultipleOf("qty", 5.0)))
    verdicts(schema, Seq(
      ("multiple", """{"qty":25}""", true),
      ("zero is a multiple", """{"qty":0}""", true),
      ("not a multiple", """{"qty":7}""", false),
      ("absent valid", """{"kind":"x"}""", true)))
    intercept[IllegalArgumentException] { MultipleOf("qty", 0.0) }
  }

  test("$ref resolves against a late-bound definitions registry") {
    lazy val defs: Map[String, Seq[Constraint]] = Map(
      "defs#positiveQty" -> Seq(Required("qty"), NumRange("qty", Some(1), None)),
      "defs#lowercaseTags" -> Seq(ArrayAll("tags", Pattern("", "^[a-z]+$"))))
    val schema = RegisteredSchema("t/1", Seq(
      Ref("defs#positiveQty", () => defs),
      Ref("defs#lowercaseTags", () => defs)))
    verdicts(schema, Seq(
      ("both hold", """{"qty":2,"tags":["ab"]}""", true),
      ("ref'd range fails", """{"qty":0}""", false),
      ("ref'd pattern fails", """{"qty":2,"tags":["AB"]}""", false)))
    intercept[IllegalArgumentException] {
      RegisteredSchema("t", Seq(Ref("defs#missing", () => defs))).valid(col("doc"))
    }
  }

  test("uniqueItems rejects duplicate elements; absent array is valid") {
    val schema = RegisteredSchema("t/1", Seq(UniqueItems("tags")))
    verdicts(schema, Seq(
      ("distinct", """{"tags":["a","b"]}""", true),
      ("duplicate", """{"tags":["a","a"]}""", false),
      ("empty", """{"tags":[]}""", true),
      ("absent", """{"qty":1}""", true)))
  }

  test("dependencies: presence of one field requires the others") {
    // {"kind": ["qty", "tags"]}
    val schema = RegisteredSchema("t/1",
      Seq(Dependencies("kind", Seq("qty", "tags"))))
    verdicts(schema, Seq(
      ("all present", """{"kind":"a","qty":1,"tags":["x"]}""", true),
      ("trigger absent", """{"qty":1}""", true),
      ("missing one dep", """{"kind":"a","qty":1}""", false),
      ("missing both deps", """{"kind":"a"}""", false)))
  }

  test("anyOf composes with array constraints") {
    // either a tagged doc (1..2 lowercase tags) or an order doc (>=1 line)
    val schema = RegisteredSchema("t/1", Seq(AnyOf(Seq(
      Seq(Required("tags"), ArrayItems("tags", Some(1), Some(2)),
        ArrayAll("tags", Pattern("", "^[a-z]+$"))),
      Seq(Required("lines"), ArrayItems("lines", Some(1), None))))))
    verdicts(schema, Seq(
      ("tagged", """{"tags":["a","b"]}""", true),
      ("order", """{"lines":[{"sku":"s","n":1}]}""", true),
      ("tagged bad pattern, no lines", """{"tags":["A"]}""", false),
      ("neither", """{"qty":1}""", false)))
  }

  test("exclusiveMinimum/exclusiveMaximum flags make the bound strict") {
    val schema = RegisteredSchema("t/1", Seq(
      NumRange("qty", Some(1), Some(10), exclusiveMin = true, exclusiveMax = true)))
    verdicts(schema, Seq(
      ("inside", """{"qty":5}""", true),
      ("at min excluded", """{"qty":1}""", false),
      ("at max excluded", """{"qty":10}""", false),
      ("absent valid", """{"kind":"x"}""", true)))
    // inclusive default unchanged
    val incl = RegisteredSchema("t/1", Seq(NumRange("qty", Some(1), Some(10))))
    verdicts(incl, Seq(
      ("at min included", """{"qty":1}""", true),
      ("at max included", """{"qty":10}""", true)))
  }

  private def rawVerdicts(mk: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                          cases: Seq[(String, String, Boolean)]): Unit = {
    val df = cases.toDF("name", "json", "expected")
      .withColumn("got", mk(col("json")))
    val wrong = df.filter(col("got") =!= col("expected"))
      .select("name", "got", "expected").collect()
    assert(wrong.isEmpty, s"AJV-divergent verdicts: ${wrong.mkString(", ")}")
  }

  test("minProperties/maxProperties bound the raw object's key count") {
    val schema = StructType(Seq(StructField("raw", StringType)))
    val c = PropsCount("raw", Some(1), Some(2))
    rawVerdicts(raw => RegisteredSchema("t", Seq(c)).valid(struct(raw.as("raw"))), Seq(
      ("one key", """{"a":1}""", true),
      ("two keys", """{"a":1,"b":2}""", true),
      ("empty under min", """{}""", false),
      ("three over max", """{"a":1,"b":2,"c":3}""", false),
      ("corrupt json don't-care", """nope""", true)))
  }

  test("patternProperties: matching keys' values must match the value regex") {
    val c = PatternProps("raw", "^x-", "^\\d+$")
    rawVerdicts(raw => RegisteredSchema("t", Seq(c)).valid(struct(raw.as("raw"))), Seq(
      ("numeric ext values", """{"k":1,"x-a":12,"x-b":"34"}""", true),
      ("non-numeric ext value", """{"k":1,"x-a":"oops"}""", false),
      ("no matching keys", """{"k":"whatever"}""", true),
      ("corrupt json don't-care", """nope""", true)))
  }

  test("additionalProperties:false admits patternProperties-matched keys") {
    rawVerdicts(raw =>
      SchemaValidator.noAdditionalProps(raw, "$", Seq("k"), Seq("^x-")), Seq(
      ("known + pattern keys", """{"k":1,"x-a":2}""", true),
      ("unknown key", """{"k":1,"y":2}""", false)))
  }

  test("union type arrays validate the raw JSON value's runtime type") {
    val c = TypeUnion("raw", "$.v", Seq("string", "integer"))
    rawVerdicts(raw => RegisteredSchema("t", Seq(c)).valid(struct(raw.as("raw"))), Seq(
      ("string ok", """{"v":"s"}""", true),
      ("integer ok", """{"v":42}""", true),
      ("float rejected", """{"v":4.5}""", false),
      ("bool rejected", """{"v":true}""", false),
      ("array rejected", """{"v":[1]}""", false),
      ("absent valid", """{"k":1}""", true),
      ("corrupt json don't-care", """nope""", true)))
    val num = TypeUnion("raw", "$.v", Seq("number"))
    rawVerdicts(raw => RegisteredSchema("t", Seq(num)).valid(struct(raw.as("raw"))), Seq(
      ("float is number", """{"v":4.5}""", true),
      ("int is number", """{"v":4}""", true),
      ("string not number", """{"v":"4"}""", false)))
    val obj = TypeUnion("raw", "$.v", Seq("object", "null"))
    rawVerdicts(raw => RegisteredSchema("t", Seq(obj)).valid(struct(raw.as("raw"))), Seq(
      ("object ok", """{"v":{"a":1}}""", true),
      ("explicit null ok", """{"v":null}""", true),
      ("scalar rejected", """{"v":3}""", false)))
  }
}
