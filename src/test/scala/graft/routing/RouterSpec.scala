package graft.routing

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Table-driven coverage of the six routing verdicts of the reference's
  * `processEvent` (lib/kinesisHandler.js:107-124), plus the partition
  * property: every input row lands in exactly one of branches ∪ badmsg ∪
  * skipped.
  */
class RouterSpec extends SparkSpec {
  import spark.implicits._

  private val envelopeId = "com.acme/stream/1-0-0"
  private val payloadSchema = StructType(Seq(
    StructField("schema", StringType),
    StructField("data", StructType(Seq(
      StructField("schema", StringType),
      StructField("qty", LongType))))))

  private def registry = Map(
    "com.acme/order/1-0-0" -> Router.Registration(
      RegisteredSchema("com.acme/order/1-0-0",
        Seq(Required("qty"), NumRange("qty", Some(0), Some(100)))),
      identity[org.apache.spark.sql.DataFrame]),
    "com.acme/user/1-0-0" -> Router.Registration(
      RegisteredSchema("com.acme/user/1-0-0", Nil),
      identity[org.apache.spark.sql.DataFrame]))

  private def config = Router.Config(envelopeId,
    RegisteredSchema(envelopeId, Nil), registry)

  /** (name, json payload or null, expected tag) — mirrors the reference's
    * branch order. */
  private val cases = Seq(
    ("undecodable", null, Router.BadMessage),
    ("missing schema", """{"data":{"schema":"com.acme/order/1-0-0","qty":1}}""", Router.BadMessage),
    ("wrong envelope schema", """{"schema":"com.other/stream/1-0-0","data":{"schema":"com.acme/order/1-0-0","qty":1}}""", Router.BadMessage),
    ("unregistered data schema ⇒ skip", """{"schema":"com.acme/stream/1-0-0","data":{"schema":"com.acme/unknown/1-0-0","qty":1}}""", Router.Skipped),
    ("payload fails validation", """{"schema":"com.acme/stream/1-0-0","data":{"schema":"com.acme/order/1-0-0","qty":999}}""", Router.BadMessage),
    ("payload missing required", """{"schema":"com.acme/stream/1-0-0","data":{"schema":"com.acme/order/1-0-0"}}""", Router.BadMessage),
    ("happy path order", """{"schema":"com.acme/stream/1-0-0","data":{"schema":"com.acme/order/1-0-0","qty":5}}""", "branch:com.acme/order/1-0-0"),
    ("happy path user", """{"schema":"com.acme/stream/1-0-0","data":{"schema":"com.acme/user/1-0-0"}}""", "branch:com.acme/user/1-0-0"))

  private def decoded = {
    val df = cases.map { case (n, j, _) => (n, j) }.toDF("name", "json")
    df.withColumn("event", from_json(col("json"), payloadSchema))
  }

  test("each reference branch gets the right verdict") {
    val tagged = Router.tag(decoded, config)
      .select("name", Router.TagCol).as[(String, String)].collect().toMap
    cases.foreach { case (name, _, want) =>
      assert(tagged(name) === want, s"case: $name")
    }
  }

  test("routing is a partition: branches + badmsg + skipped == input") {
    val routed = Router.route(decoded, config)
    val total = routed.branches.values.map(_.count()).sum +
      routed.badMessages.count() + routed.skipped.count()
    assert(total === cases.size)
  }

  test("bad messages carry a reason") {
    val routed = Router.route(decoded, config)
    val reasons = routed.badMessages.select(Router.ReasonCol).as[String].collect()
    assert(reasons.forall(_ != null))
    assert(reasons.toSet === Set("undecodable", "missing schema",
      "wrong event schema", "invalid payload"))
  }

  test("base64 wire round trip preserves routing") {
    val wire = decoded.filter(col("event").isNotNull)
      .withColumn("kinesis", struct(EventCodec.encodeEvent(col("event")).as("data")))
      .drop("event")
    val redecoded = EventCodec.withDecodedEvent(wire, payloadSchema)
    val tagged = Router.tag(redecoded, config)
      .select("name", Router.TagCol).as[(String, String)].collect().toMap
    cases.filter(_._2 != null).foreach { case (name, _, want) =>
      assert(tagged(name) === want, s"case: $name")
    }
  }

  test("corrupt base64 / JSON quarantines, does not throw") {
    val wire = Seq("not-base64!!!", "aGVsbG8=", null) // garbage, "hello", null
      .toDF("payload")
      .withColumn("kinesis", struct(col("payload").as("data")))
    val redecoded = EventCodec.withDecodedEvent(wire, payloadSchema)
    val tagged = Router.tag(redecoded, config)
    assert(tagged.filter(col(Router.TagCol) === Router.BadMessage).count() === 3)
  }

  test("EnumIn / Pattern / StrLength constraints validate like draft-04") {
    import org.apache.spark.sql.functions.{col, from_json}
    val schema = StructType(Seq(
      StructField("schema", StringType),
      StructField("data", StructType(Seq(
        StructField("schema", StringType),
        StructField("status", StringType),
        StructField("code", StringType),
        StructField("note", StringType))))))
    val reg = Map("t/1" -> Router.Registration(
      RegisteredSchema("t/1", Seq(
        EnumIn("status", Seq("ok", "warn")),
        Pattern("code", "^[A-Z]{3}-\\d+"),
        StrLength("note", Some(2), Some(8)))),
      identity[org.apache.spark.sql.DataFrame]))
    val cfg = Router.Config("env/1", RegisteredSchema("env/1", Nil), reg)

    val cases = Seq(
      ("valid", """{"schema":"env/1","data":{"schema":"t/1","status":"ok","code":"ABC-12","note":"hi"}}""", "branch:t/1"),
      ("bad enum", """{"schema":"env/1","data":{"schema":"t/1","status":"nope","code":"ABC-12","note":"hi"}}""", Router.BadMessage),
      ("bad pattern", """{"schema":"env/1","data":{"schema":"t/1","status":"ok","code":"abc12","note":"hi"}}""", Router.BadMessage),
      ("too long", """{"schema":"env/1","data":{"schema":"t/1","status":"ok","code":"ABC-12","note":"waaaaaay too long"}}""", Router.BadMessage),
      ("nulls pass optional constraints", """{"schema":"env/1","data":{"schema":"t/1"}}""", "branch:t/1"))

    val df = cases.map { case (n, j, _) => (n, j) }.toDF("name", "json")
      .withColumn("event", from_json(col("json"), schema))
    val got = Router.tag(df, cfg).select("name", Router.TagCol)
      .as[(String, String)].collect().toMap
    cases.foreach { case (name, _, want) => assert(got(name) === want, s"case: $name") }
  }

  test("r16 parse-once: repeated raw-JSON derivations hoist to one per row") {
    // The tag kernel must evaluate each distinct JSON derivation of the raw
    // payload at most once per row: PropsCount and NoAdditionalProps both
    // read the raw object's keys, which the native verdict expression
    // reads once per row (no json_object_keys copy in the plan at all).
    val schema = StructType(Seq(
      StructField("schema", StringType),
      StructField("data", StructType(Seq(
        StructField("schema", StringType),
        StructField("raw", StringType))))))
    val reg = Map("t/1" -> Router.Registration(
      RegisteredSchema("t/1", Seq(
        PropsCount("raw", Some(1), Some(3)),
        NoAdditionalProps("raw", Seq("k", "v")))),
      identity[org.apache.spark.sql.DataFrame]))
    val cfg = Router.Config("env/1", RegisteredSchema("env/1", Nil), reg)
    val df = Seq(
      ("ok", """{"schema":"env/1","data":{"schema":"t/1","raw":"{\"k\":1}"}}"""),
      ("extra key", """{"schema":"env/1","data":{"schema":"t/1","raw":"{\"k\":1,\"z\":2}"}}"""),
      ("too many", """{"schema":"env/1","data":{"schema":"t/1","raw":"{\"k\":1,\"v\":2,\"w\":3,\"x\":4}"}}"""))
      .toDF("name", "json")
      .withColumn("event", from_json(col("json"), schema))
    val tagged = Router.tag(df, cfg)
    val got = tagged.select("name", Router.TagCol)
      .as[(String, String)].collect().toMap
    assert(got("ok") === "branch:t/1")
    assert(got("extra key") === Router.BadMessage)
    assert(got("too many") === Router.BadMessage)
    val plan = tagged.queryExecution.executedPlan.toString
    val keyListings = "jsonObjectKeys".r.findAllIn(plan).size
    assert(keyListings <= 1,
      s"raw key listing must be hoisted to one evaluation per row, found $keyListings:\n$plan")
  }

  test("r16 gate safety: envelope raw constraints stay live on invalid-envelope rows") {
    // The hoisted payload parses are gated on "no earlier branch claimed
    // the row". The gate must not swallow ENVELOPE-level raw constraints:
    // a row whose envelope fails its own raw-JSON check must still verdict
    // 'invalid envelope', even though the same derivation family appears
    // in the payload constraints.
    val schema = StructType(Seq(
      StructField("schema", StringType),
      StructField("eraw", StringType),
      StructField("data", StructType(Seq(
        StructField("schema", StringType),
        StructField("raw", StringType))))))
    val reg = Map("t/1" -> Router.Registration(
      RegisteredSchema("t/1", Seq(
        PropsCount("raw", Some(1), Some(2)),
        NoAdditionalProps("raw", Seq("k")))),
      identity[org.apache.spark.sql.DataFrame]))
    val cfg = Router.Config("env/1",
      RegisteredSchema("env/1", Seq(NoAdditionalProps("eraw", Seq("a")))), reg)
    val df = Seq(
      ("envelope bad", """{"schema":"env/1","eraw":"{\"a\":1,\"evil\":2}","data":{"schema":"t/1","raw":"{\"k\":1}"}}"""),
      ("payload bad", """{"schema":"env/1","eraw":"{\"a\":1}","data":{"schema":"t/1","raw":"{\"k\":1,\"z\":9}"}}"""),
      ("both fine", """{"schema":"env/1","eraw":"{\"a\":1}","data":{"schema":"t/1","raw":"{\"k\":1}"}}"""))
      .toDF("name", "json")
      .withColumn("event", from_json(col("json"), schema))
    val got = Router.tag(df, cfg)
      .select(col("name"), col(Router.TagCol), col(Router.ReasonCol))
      .as[(String, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("envelope bad") === (Router.BadMessage, "invalid envelope"))
    assert(got("payload bad") === (Router.BadMessage, "invalid payload"))
    assert(got("both fine") === ("branch:t/1", null))
  }

  test("repeated raw keys follow JSON.parse: one key, last value wins") {
    // perfbench's s5 document (patternProperties ^x- → ^[0-9]+$,
    // additionalProperties false, maxProperties 3 over the raw attrs
    // object); the reference's JSON.parse keeps a repeated key once, with
    // its last value, so both payloads route
    val doc =
      """{
        "$schema": "http://json-schema.org/draft-04/schema#",
        "self": {"vendor": "com.graft.bench", "name": "s5", "version": "1-0-0"},
        "type": "object",
        "required": ["k", "tag"],
        "properties": {
          "k": {"type": "integer", "minimum": 0, "maximum": 50},
          "tag": {"type": "string", "pattern": "^t[0-9]+$"}
        },
        "patternProperties": {"^x-": {"pattern": "^[0-9]+$"}},
        "additionalProperties": false,
        "maxProperties": 3
      }"""
    val c = Draft4Schema.compile(doc, Some("attrs"))
    val cfg = Router.Config("env/1", RegisteredSchema("env/1", Nil),
      Map(c.id -> Router.Registration(c.registeredSchema,
        identity[org.apache.spark.sql.DataFrame])))
    val schema = StructType(Seq(
      StructField("schema", StringType),
      StructField("data", StructType(Seq(
        StructField("schema", StringType),
        StructField("k", LongType),
        StructField("tag", StringType),
        StructField("attrs", StringType))))))
    def event(attrs: String) =
      s"""{"schema":"env/1","data":{"schema":"${c.id}","k":3,"tag":"t1","attrs":$attrs}}"""
    val df = Seq(
      ("last value wins", event("""{"k":3,"x-a":"abc","x-a":"9"}""")),
      ("repeated key counts once", event("""{"k":3,"x-a":"1","x-a":"2","x-a":"3"}""")),
      ("last value decides a failure", event("""{"k":3,"x-a":"9","x-a":"abc"}""")))
      .toDF("name", "json")
      .withColumn("event", from_json(col("json"), schema))
    val got = Router.tag(df, cfg)
      .select(col("name"), col(Router.TagCol), col(Router.ReasonCol))
      .as[(String, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("last value wins") === (s"branch:${c.id}", null))
    assert(got("repeated key counts once") === (s"branch:${c.id}", null))
    assert(got("last value decides a failure") === (Router.BadMessage, "invalid payload"))
  }

  test("tag refuses input columns that collide with its working columns") {
    Seq(Router.TagCol, Router.ReasonCol, "__graft_route_branch",
      "__graft_route_cse3", "__Route").foreach { c =>
      val e = intercept[IllegalArgumentException](
        Router.tag(decoded.withColumn(c, lit("user data")), config))
      assert(e.getMessage.contains(c), e.getMessage)
    }
  }

  test("SchemaId renders and parses vendor/name/version") {
    assert(SchemaId("com.nordstrom", "retail-stream", "1-0-0").render ===
      "com.nordstrom/retail-stream/1-0-0")
    assert(SchemaId.parse("com.nordstrom/product/create/1-0-0") ===
      Some(SchemaId("com.nordstrom", "product/create", "1-0-0")))
    assert(SchemaId.parse("garbage") === None)
  }
}
