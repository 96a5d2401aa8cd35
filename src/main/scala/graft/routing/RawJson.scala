package graft.routing

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonGenerator, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.catalyst.expressions.variant.SchemaOfVariant
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions}
import org.apache.spark.types.variant.VariantBuilder
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One read of a raw JSON object: what the raw-level constraints
  * ([[NoAdditionalProps]], [[PropsCount]], [[PatternProps]],
  * [[TypeUnion]]) need, gathered in a single token walk.
  *
  * Each raw constraint keeps the verdict of the Spark function it was first
  * written over, and those functions read JSON with different leniency:
  * the key set as Spark's key listing (`JsonObjectKeys`) reads it (single
  * quotes and raw control characters allowed, NaN not, values skipped
  * undecoded), values as Spark's
  * JSON decode (`JsonToStructs`) reads them into a string map (single
  * quotes and NaN allowed, raw control characters not), and types as
  * `try_parse_json` reads them (strict). All three ignore text after the
  * root value. The walk runs one parser that allows the union; when the raw text holds a
  * quote character, a control byte or a non-numeric number — the only
  * ways the three can disagree — each reading's validity is settled by
  * re-parsing with that function's own parser settings. Text that Spark
  * produced itself (the re-serialized objects its JSON decode hands a
  * string field) never takes that path.
  *
  * Repeated keys follow the reference's `JSON.parse`: a key counts once
  * and its last value wins.
  *
  * Not thread-safe: one instance per evaluating task.
  */
private[routing] final class RawJson(probes: IndexedSeq[Array[String]],
                                     wantText: String => Boolean) {
  import RawJson._

  /** The key set as the key listing reads it, when it reads one. */
  var keysOk = false
  /** The values as the string-map decode reads them, when it reads them. */
  var mapOk = false
  /** Whether `try_parse_json` reads the text. */
  var variantOk = false
  /** Distinct top-level keys → the last value's text (NULL for JSON null,
    * [[NotCaptured]] for a non-string whose key no consumer wants).
    */
  val values = new java.util.LinkedHashMap[String, String]()
  /** Per probe path, the variant type name of its value; null = absent. */
  val probeTypes = new Array[String](probes.size)

  private var exotic = false
  private var rootIsObject = false
  private val buf = new java.io.ByteArrayOutputStream()

  def read(raw: UTF8String): Unit = {
    clear()
    val ok = try {
      walkRoot(byteParser(raw), keysOnly = false)
      true
    } catch { case _: java.io.IOException => false }
    val rootObject = ok && rootIsObject
    if (ok && !exotic && !suspicious(raw)) {
      keysOk = rootObject
      mapOk = rootObject
      variantOk = true
    } else {
      keysOk = parses(CreateJacksonParser.utf8String(keysFactory, raw),
        objectRoot = true, decode = false)
      mapOk = parses(CreateJacksonParser.utf8String(mapFactory, raw),
        objectRoot = true, decode = true)
      variantOk = parses(variantFactory.createParser(raw.toString),
        objectRoot = false, decode = true)
      if (!ok && (keysOk || mapOk || variantOk)) {
        // the byte-level parser refused text a reader-based one accepts
        // (malformed UTF-8, which they decode to U+FFFD; a string past the
        // length limit, which the key listing skips undecoded): walk that
        // text, decoding values only when a value reading needs them.
        // Should that walk fail too, the row reads as unreadable rather
        // than failing its task.
        val readings = (keysOk, mapOk, variantOk)
        clear()
        try {
          walkRoot(CreateJacksonParser.utf8String(lenientFactory, raw),
            keysOnly = !readings._2 && !readings._3)
          keysOk = readings._1; mapOk = readings._2; variantOk = readings._3
        } catch { case _: java.io.IOException => clear() }
      }
    }
  }

  private def clear(): Unit = {
    keysOk = false; mapOk = false; variantOk = false
    values.clear()
    java.util.Arrays.fill(probeTypes.asInstanceOf[Array[AnyRef]], null)
    exotic = false
    rootIsObject = false
  }

  /** Read the root value; with `keysOnly`, only a root object's key set,
    * skipping each value undecoded as the key listing does.
    */
  private def walkRoot(p: JsonParser, keysOnly: Boolean): Unit = try {
    val t = p.nextToken()
    if (t == null) throw new java.io.EOFException("empty JSON text")
    rootIsObject = t == JsonToken.START_OBJECT
    if (keysOnly) {
      if (rootIsObject) while (p.nextValue() != JsonToken.END_OBJECT) {
        values.put(p.currentName(), NotCaptured)
        p.skipChildren()
      }
    } else {
      var i = 0
      while (i < probeTypes.length) {
        if (probes(i).isEmpty) probeTypes(i) = typeName(p)
        i += 1
      }
      if (!rootIsObject) walk(p, Nil, 0, null)
      else {
        val cands = probes.indices.filter(probes(_).nonEmpty).toList
        var f = p.nextToken()
        while (f != JsonToken.END_OBJECT) {
          val key = p.currentName()
          val v = p.nextToken()
          val text = v match {
            case JsonToken.VALUE_STRING => p.getText
            case JsonToken.VALUE_NULL => null
            case _ if wantText(key) =>
              buf.reset()
              val g = mapFactory.createGenerator(buf)
              walk(p, keyed(cands, key, 0), 1, g)
              g.close()
              buf.toString("UTF-8")
            case _ =>
              walk(p, keyed(cands, key, 0), 1, null)
              NotCaptured
          }
          if (v == JsonToken.VALUE_STRING || v == JsonToken.VALUE_NULL)
            walk(p, keyed(cands, key, 0), 1, null)
          values.put(key, text)
          f = p.nextToken()
        }
      }
    }
  } finally p.close()

  /** The probes continuing through `key` at `depth`; each is reset, so a
    * repeated key's last value decides it.
    */
  private def keyed(cands: List[Int], key: String, depth: Int): List[Int] =
    if (cands.isEmpty) Nil
    else cands.filter { i =>
      val hit = probes(i)(depth) == key
      if (hit) probeTypes(i) = null
      hit
    }

  /** Consume the value at the current token, recording probes of length
    * `depth` in `cands`, flagging non-numeric numbers and copying each
    * token to `g` when given.
    */
  private def walk(p: JsonParser, cands: List[Int], depth: Int, g: JsonGenerator): Unit = {
    val t = p.currentToken()
    cands.foreach(i => if (probes(i).length == depth) probeTypes(i) = typeName(p))
    if (g != null) g.copyCurrentEvent(p)
    t match {
      case JsonToken.START_OBJECT =>
        val deeper = cands.filter(probes(_).length > depth)
        var f = p.nextToken()
        while (f != JsonToken.END_OBJECT) {
          if (g != null) g.copyCurrentEvent(p)
          val key = p.currentName()
          p.nextToken()
          walk(p, keyed(deeper, key, depth), depth + 1, g)
          f = p.nextToken()
        }
        if (g != null) g.copyCurrentEvent(p)
      case JsonToken.START_ARRAY =>
        while (p.nextToken() != JsonToken.END_ARRAY) walk(p, Nil, depth + 1, g)
        if (g != null) g.copyCurrentEvent(p)
      case JsonToken.VALUE_NUMBER_FLOAT =>
        if (nonNumeric(p.getText)) exotic = true
      case JsonToken.VALUE_STRING =>
        if (g == null) p.finishToken()
      case _ =>
    }
  }

  /** `schema_of_variant`'s name for the value at the current token, as far
    * as the type checks read it; numbers go through Spark's own variant
    * parser, which decides BIGINT, DECIMAL(p,s) or DOUBLE.
    */
  private def typeName(p: JsonParser): String = p.currentToken() match {
    case JsonToken.START_OBJECT => "OBJECT"
    case JsonToken.START_ARRAY => "ARRAY"
    case JsonToken.VALUE_STRING => "STRING"
    case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => "BOOLEAN"
    case JsonToken.VALUE_NULL => "VOID"
    case _ =>
      val text = p.getText
      if (nonNumeric(text)) { exotic = true; null }
      else SchemaOfVariant.printSchema(
        SchemaOfVariant.schemaOf(VariantBuilder.parseJson(text, false)))
  }
}

private[routing] object RawJson {

  /** Marker text of a non-string value nobody asked to render. */
  val NotCaptured: String = new String("<not captured>")

  /** The key listing's (`JsonObjectKeys`) parser settings. */
  private val keysFactory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  /** The JSON decode's parser (and value renderer) settings, default
    * options.
    */
  private val mapFactory: JsonFactory =
    new JSONOptions(Map.empty[String, String], "UTC", "").buildJsonFactory()

  /** `try_parse_json`'s parser settings. */
  private val variantFactory: JsonFactory = new JsonFactory()

  /** The union of the three, under the JSON decode's read limits (number
    * and string length, nesting depth; the same as Jackson's defaults,
    * which the other two use).
    */
  private val lenientFactory: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .streamReadConstraints(mapFactory.streamReadConstraints())
    .build()

  private def byteParser(raw: UTF8String): JsonParser = raw.getBaseObject match {
    case a: Array[Byte] =>
      lenientFactory.createParser(a,
        (raw.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, raw.numBytes)
    case _ => lenientFactory.createParser(raw.getBytes)
  }

  /** NaN / Infinity tokens (accepted only under ALLOW_NON_NUMERIC_NUMBERS). */
  private def nonNumeric(text: String): Boolean = {
    val c = text.charAt(0)
    !(c >= '0' && c <= '9') &&
      !(c == '-' && text.length > 1 && text.charAt(1) >= '0' && text.charAt(1) <= '9')
  }

  /** Whether the text holds a quote character or a control byte: the only
    * bytes on which the three readings' parsers can part ways, besides
    * non-numeric numbers (flagged during the walk).
    */
  private def suspicious(raw: UTF8String): Boolean = {
    val base = raw.getBaseObject
    val off = raw.getBaseOffset
    var i = 0
    val n = raw.numBytes
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == '\'' || (b >= 0 && b < 0x20)) return true
      i += 1
    }
    false
  }

  /** Whether `p` reads one whole root value (an object when `objectRoot`),
    * decoding every string when `decode`, as the reading it stands for does
    * (the key listing skips values undecoded, so it never meets the string
    * length limit).
    */
  private def parses(p: JsonParser, objectRoot: Boolean, decode: Boolean): Boolean =
    try {
      val t = p.nextToken()
      if (t == null || (objectRoot && t != JsonToken.START_OBJECT)) false
      else {
        var depth = 0
        var cur = t
        do {
          cur match {
            case JsonToken.START_OBJECT | JsonToken.START_ARRAY => depth += 1
            case JsonToken.END_OBJECT | JsonToken.END_ARRAY => depth -= 1
            case JsonToken.VALUE_STRING => if (decode) p.getText
            case _ =>
          }
          if (depth > 0) cur = p.nextToken()
        } while (depth > 0)
        true
      }
    } catch { case _: java.io.IOException => false }
    finally p.close()
}
