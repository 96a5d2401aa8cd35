package graft.routing

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's own worked example — the Kinesis batch in its doc comment
  * (reference: lib/kinesisHandler.js:18-57, two retail-stream records whose
  * payloads carry `com.nordstrom/retail-stream/1-0-0` envelopes and
  * `com.nordstrom/product/create/1-0-0` data, base64-encoded) — re-encoded
  * here and run through the full engine pipeline: envelope DataFrame →
  * base64 decode → typed JSON parse → two-level validation → dispatch.
  */
class ReferenceFixtureSpec extends SparkSpec {
  import spark.implicits._

  private val envelopeId = "com.nordstrom/retail-stream/1-0-0"
  private val productCreate = "com.nordstrom/product/create/1-0-0"

  // payloads reconstructed to the doc comment's shape (its base64 is
  // elided with "[...]" in the source, so we re-encode equivalent content)
  private val records = Seq(
    ("49568749374218235080373793662003016116473266703358230578", 1484245766.362,
      s"""{"schema":"$envelopeId","origin":"hello-retail/product-producer-automation",
         |"timeOrigin":"2017-01-12T18:29:25.171Z","data":{"schema":"$productCreate",
         |"id":"4579874","brand":"POLO RALPH LAUREN","name":"Polo Ralph Lauren 3-Pack Socks",
         |"description":"PAGE:/product/4579874","category":"Socks for Men"}}""".stripMargin.replaceAll("\n", "")),
    ("49568749374218235080373793662021150003767486140978823218", 1484245766.739,
      s"""{"schema":"$envelopeId","origin":"hello-retail/product-producer-automation",
         |"timeOrigin":"2017-01-12T18:29:25.751Z","data":{"schema":"$productCreate",
         |"id":"7749361","brand":"Nordstrom","name":"Nordstrom Men's Crewneck Sweater",
         |"description":"PAGE:/product/7749361","category":"Sweaters for Men"}}""".stripMargin.replaceAll("\n", "")))

  private val payloadSchema = StructType(Seq(
    StructField("schema", StringType),
    StructField("origin", StringType),
    StructField("timeOrigin", StringType),
    StructField("data", StructType(Seq(
      StructField("schema", StringType),
      StructField("id", StringType),
      StructField("brand", StringType),
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("category", StringType))))))

  test("the reference doc-comment batch routes to the product/create handler") {
    val b64 = java.util.Base64.getEncoder
    val batch = records.map { case (seq, ts, json) =>
      (b64.encodeToString(json.getBytes("UTF-8")), "undefined", seq, ts,
        "aws:kinesis", "aws:kinesis:record", "us-west-2")
    }.toDF("data", "partitionKey", "sequenceNumber", "approximateArrivalTimestamp",
      "eventSource", "eventName", "awsRegion")
      .withColumn("kinesis", struct(
        col("data"), col("partitionKey"), col("sequenceNumber"),
        col("approximateArrivalTimestamp"), lit("1.0").as("kinesisSchemaVersion")))
      .drop("data", "partitionKey", "sequenceNumber", "approximateArrivalTimestamp")

    val registry = Map(productCreate -> Router.Registration(
      RegisteredSchema(productCreate, Seq(
        Required("id"), Required("brand"), Required("category"),
        Pattern("id", "^\\d+$"))),
      (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("event.data.id").as("id"), col("event.data.category").as("category"))))

    val config = Router.Config(envelopeId,
      RegisteredSchema(envelopeId, Seq(Required("origin"), Required("timeOrigin"))),
      registry)

    val decoded = EventCodec.withDecodedEvent(batch, payloadSchema)
    val routed = Router.route(decoded, config)

    assert(routed.badMessages.count() === 0)
    assert(routed.skipped.count() === 0)
    val handled = routed.branches(productCreate)
      .as[(String, String)].collect().toSet
    assert(handled === Set(
      ("4579874", "Socks for Men"),
      ("7749361", "Sweaters for Men")))
  }

  test("ordered mode preserves the batch's sequence-number order per key") {
    val rows = records.reverse.map { case (seq, _, json) => ("undefined", seq, json) }
    val outSchema = StructType(Seq(StructField("k", StringType),
      StructField("seq", StringType), StructField("pos", IntegerType)))
    val out = OrderedRouter.processOrdered(rows.toDF("k", "seq", "json"), "k", "seq",
      outSchema) { it =>
      it.zipWithIndex.map { case (r, i) => Row(r.getString(0), r.getString(1), i) }
    }.as[(String, String, Int)].collect().sortBy(_._2)
    // lower sequence number must be processed first (position 0)
    assert(out.head._3 === 0 && out.last._3 === 1)
  }
}
