package graft.routing

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Ergonomic draft-04 entry point: compile a JSON Schema DOCUMENT (the thing
  * a porter of the reference already has — `ajv.addSchema(schema, id)`,
  * reference lib/kinesisHandler.js:84,93) into the [[Constraint]] conjunction
  * the router consumes, plus the `vendor/name/version` id the reference
  * derives with `makeSchemaId` (lib/kinesisHandler.js:15-17). Porters
  * register documents; they no longer hand-assemble Constraint lists.
  *
  * Coverage = the library's implemented draft-04 subset (P1–P4):
  * `required`, `enum`, `pattern`, `minLength`/`maxLength`,
  * `minimum`/`maximum` (+ boolean `exclusiveMinimum`/`exclusiveMaximum`),
  * `multipleOf`, `format`, `minItems`/`maxItems`, `uniqueItems`, `items`
  * (object form), property `dependencies`, nested `properties`,
  * `anyOf`/`allOf`/`oneOf`/`not`, `$ref` into `definitions`, and — given a
  * `rawPath` to the raw JSON column — top-level `additionalProperties:
  * false`, `minProperties`/`maxProperties`, and `patternProperties`.
  *
  * Unsupported keywords FAIL LOUDLY at compile (the repo's misuse
  * discipline): AJV would silently enforce them at runtime, so dropping one
  * would silently weaken validation relative to the reference. Structural
  * `type` keywords are the one deliberate skip — typed parsing via
  * the typed JSON decode already enforces types of present fields (see
  * [[SchemaValidator]] scaladoc), and draft-04 keyword independence makes
  * `type` on absent fields vacuous.
  */
object Draft4Schema {

  /** Compiled schema: the reference-shaped id and the constraint bundle. */
  final case class Compiled(id: String, constraints: Seq[Constraint]) {
    def registeredSchema: RegisteredSchema = RegisteredSchema(id, constraints)
  }

  /** SURVEY §4's `validate_json_schema` ergonomic: document string in,
    * ONE boolean Column out — the full P1–P4 constraint conjunction for a
    * registered draft-04 document, droppable into any pipeline
    * (`df.filter(validateJsonSchema(doc, col("payload")))`). Compilation
    * happens once at plan-build; the returned expression is pure built-in
    * Catalyst (codegen'd predicates), no UDF.
    */
  def validateJsonSchema(schemaJson: String,
                         root: org.apache.spark.sql.Column,
                         rawPath: Option[String] = None): org.apache.spark.sql.Column =
    compile(schemaJson, rawPath).registeredSchema.valid(root)

  private val mapper = new ObjectMapper()

  /** Compile a draft-04 document. `rawPath` is the dotted path (relative to
    * the validated struct) of the RAW JSON string column, needed only for
    * the raw-level keywords (`additionalProperties`, `minProperties`/
    * `maxProperties`, `patternProperties`); omit it and those keywords
    * throw with an explanation instead of silently passing.
    */
  def compile(schemaJson: String, rawPath: Option[String] = None): Compiled = {
    val root = mapper.readTree(schemaJson)
    val self = Option(root.get("self")).getOrElse(
      throw new IllegalArgumentException(
        "schema document needs self {vendor, name, version} — the " +
          "reference's makeSchemaId contract (lib/kinesisHandler.js:15-17)"))
    def field(f: String): String = Option(self.get(f)).map(_.asText).getOrElse(
      throw new IllegalArgumentException(s"self.$f missing"))
    val id = SchemaId(field("vendor"), field("name"), field("version")).render
    // definitions compile first into the $ref registry (by-name closure, so
    // in-document ref ordering doesn't matter)
    var defs = Map.empty[String, Seq[Constraint]]
    val defsFn = () => defs
    Option(root.get("definitions")).foreach { d =>
      d.properties().asScala.foreach { e =>
        defs += s"#/definitions/${e.getKey}" ->
          compileNode(e.getValue, "", rawPath, defsFn, topLevel = false)
      }
    }
    Compiled(id, compileNode(root, "", rawPath, defsFn, topLevel = true))
  }

  private val metaKeywords = Set("self", "definitions", "$schema", "id",
    "title", "description", "default", "type")
  private val handledObjectKeywords = Set("properties", "required",
    "dependencies", "anyOf", "allOf", "oneOf", "not", "$ref",
    "additionalProperties", "minProperties", "maxProperties",
    "patternProperties")
  private val handledValueKeywords = Set("enum", "pattern", "minLength",
    "maxLength", "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
    "multipleOf", "format", "minItems", "maxItems", "uniqueItems", "items")

  private def join(path: String, name: String): String =
    if (path.isEmpty) name else s"$path.$name"

  /** Compile one schema node's constraints, paths relative to the validated
    * root ("" = the node itself — used for array element schemas).
    */
  private def compileNode(node: JsonNode, path: String, rawPath: Option[String],
                          defs: () => Map[String, Seq[Constraint]],
                          topLevel: Boolean): Seq[Constraint] = {
    val unknown = node.properties().asScala.map(_.getKey).filterNot(k =>
      metaKeywords(k) || handledObjectKeywords(k) || handledValueKeywords(k))
    require(unknown.isEmpty,
      s"unsupported draft-04 keyword(s) ${unknown.mkString(", ")} at " +
        s"'${if (path.isEmpty) "$" else path}' — AJV would enforce these; " +
        "refusing to compile a silently weaker validator")

    def opt(k: String): Option[JsonNode] = Option(node.get(k))
    def needRaw(kw: String): String = rawPath.getOrElse(
      throw new IllegalArgumentException(
        s"'$kw' validates the RAW object (the typed decode already dropped " +
          "unknown fields / fixed the key set) — pass rawPath pointing at " +
          "the raw JSON string column"))

    val out = Seq.newBuilder[Constraint]

    // value-level keywords at THIS node's path
    opt("enum").foreach { e =>
      out += EnumIn(path, e.elements().asScala.map(_.asText).toSeq)
    }
    opt("pattern").foreach(p => out += Pattern(path, p.asText))
    if (opt("minLength").nonEmpty || opt("maxLength").nonEmpty)
      out += StrLength(path, opt("minLength").map(_.asInt),
        opt("maxLength").map(_.asInt))
    // draft-04 exclusiveMinimum/Maximum are BOOLEAN modifiers of minimum/
    // maximum; the draft-06 numeric form would silently compile to no
    // constraint at all (asBoolean on a number is false, and absent
    // minimum emits no NumRange) — refuse it loudly instead
    Seq("exclusiveMinimum" -> "minimum", "exclusiveMaximum" -> "maximum")
      .foreach { case (ex, base) =>
        opt(ex).foreach { n =>
          require(n.isBoolean,
            s"'$ex' must be a draft-04 BOOLEAN (got ${n.getNodeType}) — " +
              "the numeric draft-06 form would compile to a silently " +
              s"weaker validator; write {\"$base\": x, \"$ex\": true}")
          require(opt(base).nonEmpty,
            s"'$ex' without '$base' is vacuous in draft-04 — remove it or " +
              s"add '$base'")
        }
      }
    if (opt("minimum").nonEmpty || opt("maximum").nonEmpty)
      out += NumRange(path,
        opt("minimum").map(_.asDouble), opt("maximum").map(_.asDouble),
        exclusiveMin = opt("exclusiveMinimum").exists(_.asBoolean),
        exclusiveMax = opt("exclusiveMaximum").exists(_.asBoolean))
    opt("multipleOf").foreach(m => out += MultipleOf(path, m.asDouble))
    opt("format").foreach(f => out += Format(path, f.asText))
    if (opt("minItems").nonEmpty || opt("maxItems").nonEmpty)
      out += ArrayItems(path, opt("minItems").map(_.asInt),
        opt("maxItems").map(_.asInt))
    if (opt("uniqueItems").exists(_.asBoolean)) out += UniqueItems(path)
    opt("items").foreach { it =>
      require(it.isObject, "only the object form of 'items' is supported " +
        "(per-position tuple arrays have no fixed columnar shape)")
      val elem = compileNode(it, "", rawPath, defs, topLevel = false)
      if (elem.nonEmpty) out += ArrayAll(path, AllOf(elem))
    }

    // object-level keywords
    opt("required").foreach { r =>
      r.elements().asScala.foreach(n => out += Required(join(path, n.asText)))
    }
    opt("properties").foreach { props =>
      props.properties().asScala.foreach { e =>
        out ++= compileNode(e.getValue, join(path, e.getKey), rawPath, defs,
          topLevel = false)
      }
    }
    opt("dependencies").foreach { d =>
      d.properties().asScala.foreach { e =>
        require(e.getValue.isArray,
          "only property-dependencies arrays are supported (schema " +
            "dependencies: compose AnyOf(Not(Required(...)), ...) directly)")
        out += Dependencies(join(path, e.getKey),
          e.getValue.elements().asScala.map(n => join(path, n.asText)).toSeq)
      }
    }
    def alternatives(k: String): Seq[Seq[Constraint]] =
      node.get(k).elements().asScala
        .map(alt => compileNode(alt, path, rawPath, defs, topLevel = false))
        .toSeq
    opt("anyOf").foreach(_ => out += AnyOf(alternatives("anyOf")))
    opt("oneOf").foreach(_ => out += OneOf(alternatives("oneOf")))
    opt("allOf").foreach(_ => out += AllOf(alternatives("allOf").flatten))
    opt("not").foreach { n =>
      out += Not(AllOf(compileNode(n, path, rawPath, defs, topLevel = false)))
    }
    opt("$ref").foreach { r =>
      val d = defs
      val ref = Ref(r.asText, () => d())
      out += (if (path.isEmpty) ref else Rebase(path, ref))
    }

    // raw-level keywords (top level only: nested raw objects would need a
    // JSONPath projection per nesting — register the nested object under its
    // own schema instead, the reference's own two-level pattern)
    opt("additionalProperties").foreach { ap =>
      require(topLevel, "additionalProperties is supported at the document " +
        "top level — register nested objects under their own schema")
      if (ap.isBoolean && !ap.asBoolean) {
        val allowed = opt("properties")
          .map(_.properties().asScala.map(_.getKey).toSeq).getOrElse(Nil)
        val patterns = opt("patternProperties")
          .map(_.properties().asScala.map(_.getKey).toSeq).getOrElse(Nil)
        out += NoAdditionalProps(needRaw("additionalProperties"), allowed, patterns)
      } // additionalProperties: true / schema-form → vacuous for routing
    }
    if (opt("minProperties").nonEmpty || opt("maxProperties").nonEmpty) {
      require(topLevel, "minProperties/maxProperties supported at the top level")
      out += PropsCount(needRaw("minProperties/maxProperties"),
        opt("minProperties").map(_.asInt), opt("maxProperties").map(_.asInt))
    }
    opt("patternProperties").foreach { pp =>
      require(topLevel, "patternProperties supported at the top level")
      pp.properties().asScala.foreach { e =>
        val v = e.getValue
        // value-schema support: the 'pattern' keyword on scalar text
        Option(v.get("pattern")).foreach { vr =>
          out += PatternProps(needRaw("patternProperties"), e.getKey, vr.asText)
        }
        val other = v.properties().asScala.map(_.getKey).filterNot(_ == "pattern")
          .filterNot(metaKeywords)
        require(other.isEmpty,
          s"patternProperties value schema supports 'pattern' (got " +
            s"${other.mkString(", ")}); key-set restriction rides " +
            "additionalProperties:false")
      }
    }
    out.result()
  }
}
