package graft.routing

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ergonomic porter path: register a draft-04 DOCUMENT (the artifact a
  * reference user already ships to `ajv.addSchema`) and route with the
  * compiled bundle — no hand-assembled Constraint lists.
  */
class Draft4SchemaSpec extends SparkSpec {
  import spark.implicits._

  // A product-event schema of the reference ecosystem's shape: the
  // `self {vendor, name, version}` id convention of makeSchemaId
  // (reference lib/kinesisHandler.js:15-17) around a retail payload like
  // the doc-comment example's com.nordstrom/retail… event
  // (lib/kinesisHandler.js:28).
  private val productSchema =
    """{
      "$schema": "http://json-schema.org/draft-04/schema#",
      "self": {"vendor": "com.nordstrom", "name": "product/create", "version": "1-0-0"},
      "type": "object",
      "required": ["id", "category"],
      "properties": {
        "id": {"type": "string", "pattern": "^[0-9]{7}$"},
        "category": {"type": "string", "minLength": 1, "maxLength": 50},
        "brand": {"enum": ["nordstrom", "rack"]},
        "price": {"type": "number", "minimum": 0, "exclusiveMinimum": true},
        "tags": {"type": "array", "maxItems": 3, "uniqueItems": true,
                 "items": {"pattern": "^[a-z]+$"}}
      },
      "dependencies": {"price": ["brand"]}
    }"""

  private val payloadType = StructType(Seq(
    StructField("id", StringType), StructField("category", StringType),
    StructField("brand", StringType), StructField("price", DoubleType),
    StructField("tags", ArrayType(StringType))))

  test("compiled id mirrors makeSchemaId's vendor/name/version") {
    val c = Draft4Schema.compile(productSchema)
    assert(c.id === "com.nordstrom/product/create/1-0-0")
  }

  test("a slashed name round-trips through SchemaId.parse") {
    val c = Draft4Schema.compile(productSchema)
    assert(SchemaId.parse(c.id) ===
      Some(SchemaId("com.nordstrom", "product/create", "1-0-0")))
    assert(SchemaId.parse(c.id).map(_.render) === Some(c.id))
  }

  test("compiled bundle enforces the document's keywords") {
    val compiled = Draft4Schema.compile(productSchema)
    val rows = Seq(
      // name, id, category, brand, price, tags, expectValid
      ("ok",            "4634744", "Sweaters for Men", "nordstrom", Some(10.0), Seq("knit"), true),
      ("bad id",        "abc",     "Sweaters",         null,        None,       Nil,         false),
      ("missing cat",   "4634744", null,               null,        None,       Nil,         false),
      ("bad enum",      "4634744", "Sweaters",         "other",     None,       Nil,         false),
      ("price not > 0", "4634744", "Sweaters",         "nordstrom", Some(0.0),  Nil,         false),
      ("price no brand","4634744", "Sweaters",         null,        Some(5.0),  Nil,         false),
      ("dup tags",      "4634744", "Sweaters",         null,        None,       Seq("a", "a"), false),
      ("bad tag",       "4634744", "Sweaters",         null,        None,       Seq("UPPER"),  false),
      ("no optionals",  "4634744", "Sweaters",         null,        None,       null,          true))
    val df = rows.map { case (n, i, c, b, p, t, _) =>
      (n, i, c, b, p.map(Double.box).orNull.asInstanceOf[java.lang.Double], t)
    }.toDF("name", "id", "category", "brand", "price", "tags")
      .withColumn("ev", struct(col("id"), col("category"), col("brand"),
        col("price"), col("tags")))
    val got = df.withColumn("ok", compiled.registeredSchema.valid(col("ev")))
      .select("name", "ok").as[(String, Boolean)].collect().toMap
    rows.foreach { case (name, _, _, _, _, _, want) =>
      assert(got(name) === want, s"case: $name")
    }
  }

  test("document-registered schema routes end to end (the porter path)") {
    val envelopeId = "com.nordstrom/retail-stream/1-0-0"
    val compiled = Draft4Schema.compile(productSchema)
    val config = Router.Config(envelopeId,
      RegisteredSchema(envelopeId, Nil),
      Map(compiled.id -> Router.Registration(
        compiled.registeredSchema,
        identity[org.apache.spark.sql.DataFrame])))
    val envType = StructType(Seq(
      StructField("schema", StringType),
      StructField("data", StructType(
        StructField("schema", StringType) +: payloadType.fields))))
    val good =
      s"""{"schema":"$envelopeId","data":{"schema":"${compiled.id}",
         |"id":"4634744","category":"Sweaters for Men"}}""".stripMargin
    val bad =
      s"""{"schema":"$envelopeId","data":{"schema":"${compiled.id}",
         |"id":"nope","category":"Sweaters"}}""".stripMargin
    val df = Seq(("good", good), ("bad", bad)).toDF("name", "json")
      .withColumn("event", from_json(col("json"), envType))
    val tagged = Router.tag(df, config)
      .select("name", Router.TagCol).as[(String, String)].collect().toMap
    assert(tagged("good") === s"branch:${compiled.id}")
    assert(tagged("bad") === Router.BadMessage)
  }

  test("unsupported keywords refuse to compile a weaker validator") {
    val ex = intercept[IllegalArgumentException] {
      Draft4Schema.compile(
        """{"self":{"vendor":"v","name":"n","version":"1"},
           "properties":{"x":{"contains":{"minimum":5}}}}""")
    }
    assert(ex.getMessage.contains("contains"))
    // raw-level keyword without a rawPath: loud, with guidance
    val ex2 = intercept[IllegalArgumentException] {
      Draft4Schema.compile(
        """{"self":{"vendor":"v","name":"n","version":"1"},
           "additionalProperties":false,"properties":{"x":{}}}""")
    }
    assert(ex2.getMessage.contains("rawPath"))
  }

  test("definitions + $ref + combinators compile and evaluate") {
    val doc =
      """{
        "self": {"vendor": "com.acme", "name": "poly", "version": "2"},
        "definitions": {
          "positive": {"minimum": 0, "exclusiveMinimum": true}
        },
        "properties": {
          "qty": {"$ref": "#/definitions/positive"},
          "mode": {"oneOf": [{"enum": ["a"]}, {"enum": ["b"]}]}
        },
        "not": {"properties": {"mode": {"enum": ["forbidden"]}}}
      }"""
    val c = Draft4Schema.compile(doc)
    val df = Seq(
      ("ok", 2.0, "a", true),
      ("neg qty", -1.0, "a", false),
      ("zero qty", 0.0, "a", false),
      ("bad mode", 2.0, "c", false))
      .toDF("name", "qty", "mode", "want")
      .withColumn("ev", struct(col("qty"), col("mode")))
    val got = df.withColumn("ok", c.registeredSchema.valid(col("ev")))
      .select("name", "ok", "want").as[(String, Boolean, Boolean)].collect()
    got.foreach { case (name, ok, want) => assert(ok === want, s"case: $name") }
  }

  test("draft-06 numeric exclusiveMinimum/Maximum refuse to compile") {
    // the numeric form would compile to NO constraint at all (asBoolean on
    // a number is false; absent minimum emits no NumRange) — a silently
    // weaker validator, which the compiler's own rule forbids
    def doc(body: String) =
      s"""{"self": {"vendor": "v", "name": "n", "version": "1"},
           "properties": {"k": $body}}"""
    val numeric = intercept[IllegalArgumentException] {
      Draft4Schema.compile(doc("""{"exclusiveMinimum": 5}"""))
    }
    assert(numeric.getMessage.contains("BOOLEAN"))
    val orphan = intercept[IllegalArgumentException] {
      Draft4Schema.compile(doc("""{"exclusiveMaximum": true}"""))
    }
    assert(orphan.getMessage.contains("vacuous"))
    // the draft-04 boolean form still compiles and binds strictly
    val ok = Draft4Schema.compile(
      doc("""{"minimum": 0, "maximum": 10, "exclusiveMaximum": true}"""))
    assert(ok.constraints.exists {
      case NumRange("k", _, Some(10.0), false, true) => true
      case _ => false
    })
  }
}
