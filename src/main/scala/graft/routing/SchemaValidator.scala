package graft.routing

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{get_json_object, struct}
import org.apache.spark.sql.graftbridge.GraftBridge

/** JSON-Schema-style validation constraints.
  *
  * The reference validates with AJV (draft-04) at two levels: the envelope
  * (`ajv.validate(eventSchemaId, event)`, reference lib/kinesisHandler.js:112)
  * and the selected payload (`ajv.validate(event.data.schema, event.data)`,
  * :115). We model the commonly used draft-04 constraint subset as plain data
  * over a struct column; [[NativeValidator]] compiles a constraint list once,
  * bound to the root's data type, and evaluates it in one pass per row (one
  * read of each raw JSON object), so every validation surface —
  * [[RegisteredSchema.valid]], [[Draft4Schema.validateJsonSchema]] and
  * [[Router.tag]] — runs the same evaluator.
  *
  * Typed parsing (the JSON decode of [[EventCodec]]) already enforces the
  * *structural* part (types of present fields; corrupt JSON → NULL struct),
  * so constraints here are the value-level extras. Paths are dotted struct-field paths
  * relative to the validated root; "" is the root itself, so element
  * constraints can apply to array elements directly (see [[ArrayAll]]).
  * Leaf constraints on an absent (NULL) value hold (AJV keyword
  * independence); only [[Required]] and [[Dependencies]] test presence.
  */
sealed trait Constraint extends Serializable

/** draft-04 `required` — the field must be present (non-null after parse). */
final case class Required(path: String) extends Constraint

/** draft-04 `enum`: the value equals one of `values`, each cast to the
  * field's type the way Spark's `IN` coerces a string literal.
  */
final case class EnumIn(path: String, values: Seq[String]) extends Constraint

/** draft-04 `minimum`/`maximum` for numeric fields, with the draft-04
  * boolean `exclusiveMinimum`/`exclusiveMaximum` modifiers (in draft-04
  * these are FLAGS changing the adjacent bound to strict — the standalone
  * numeric form arrived in draft-06, which the reference's AJV setup does
  * not use). Compared as doubles with Spark's ordering (NaN above all).
  */
final case class NumRange(path: String, min: Option[Double], max: Option[Double],
                          exclusiveMin: Boolean = false,
                          exclusiveMax: Boolean = false) extends Constraint

/** draft-04 `pattern` for string fields (Java regex, un-anchored like AJV). */
final case class Pattern(path: String, regex: String) extends Constraint

/** draft-04 `minLength`/`maxLength` for string fields, in code points. */
final case class StrLength(path: String, min: Option[Int], max: Option[Int]) extends Constraint

/** draft-04 `anyOf` — at least one alternative constraint set fully holds.
  * Each alternative is a conjunction; the whole is their disjunction (an
  * empty alternative list is vacuously invalid, matching AJV's anyOf:[]).
  */
final case class AnyOf(alternatives: Seq[Seq[Constraint]]) extends Constraint

/** draft-04 `allOf` — every subschema holds. Distinct from listing the
  * constraints flat only when nested under combinators (`Not(AllOf(...))`,
  * a `oneOf` alternative that is itself an allOf), which is exactly where
  * AJV schemas use it.
  */
final case class AllOf(all: Seq[Constraint]) extends Constraint

/** draft-04 `oneOf` — EXACTLY one alternative holds. AJV counts matching
  * subschemas and fails on 0 or ≥2 (`oneOf:[]` is invalid).
  */
final case class OneOf(alternatives: Seq[Seq[Constraint]]) extends Constraint

/** draft-04 `not` — the subschema must NOT validate. Negates the COMPILED
  * verdict, exactly AJV's semantics: because leaves treat absent as valid,
  * `Not(Pattern(...))` rejects absent values (the subschema would have
  * validated) — same verdict AJV gives, surprising or not.
  */
final case class Not(c: Constraint) extends Constraint

/** draft-04 `multipleOf` — value divided by n is an integer. Mirrors AJV's
  * check (`division % 1 == 0` on IEEE doubles), so fractional factors
  * inherit the same float quirks AJV has (e.g. 0.3 / 0.1).
  */
final case class MultipleOf(path: String, n: Double) extends Constraint {
  require(n > 0, "multipleOf must be > 0")
}

/** draft-04 `$ref` — resolved against a definitions registry (AJV's
  * `addSchema` map) when a validator is built: the reference is inlined
  * there, so the compiled validator holds no closure. The by-name `defs`
  * lets definitions be assembled after the referring schema is declared;
  * RECURSIVE refs are unsupported (inlining must terminate — AJV compiles
  * lazily and has no such limit; a recursive payload schema has unbounded
  * depth and no columnar shape anyway).
  */
final case class Ref(id: String, defs: () => Map[String, Seq[Constraint]]) extends Constraint

/** Apply a constraint with its paths rebased under `path` — the
  * $ref-at-a-property adapter: a `definitions` entry is written relative to
  * its OWN root, so referencing it from a property means evaluating it
  * against that property's subtree ("" inside the definition = the
  * referenced field itself).
  */
final case class Rebase(path: String, c: Constraint) extends Constraint

/** draft-04 `uniqueItems` for array fields — no two equal elements, with
  * Spark's `array_distinct` equality (NaN equals NaN, nulls equal).
  */
final case class UniqueItems(path: String) extends Constraint

/** draft-04 property `dependencies` — if `ifPresent` is present, every path
  * in `requires` must be present too (the {"a": ["b", "c"]} form; the
  * schema-dependency form is `AnyOf(Seq(Seq(Not(Required(ifPresent))), deps))`
  * with an arbitrary subschema).
  */
final case class Dependencies(ifPresent: String, requires: Seq[String]) extends Constraint

/** draft-04 `minItems`/`maxItems` for array fields. */
final case class ArrayItems(path: String, min: Option[Int], max: Option[Int]) extends Constraint

/** draft-04 array `items` — every element satisfies the element constraint.
  * The element constraint's path is RELATIVE to the element ("" = the
  * element itself, "f" = struct field f of the element), so nested
  * object-array schemas compose: `ArrayAll("lines", NumRange("qty", ...))`.
  */
final case class ArrayAll(path: String, elem: Constraint) extends Constraint

/** draft-04 `format` for string fields — the commonly used formats, modeled
  * as anchored full-match regexes (AJV semantics: format applies only to
  * present string values, absent ⇒ valid). An unknown format name fails
  * at construction.
  */
final case class Format(path: String, format: String) extends Constraint {
  require(Format.patterns.contains(format), s"unknown format: $format")
  def regex: String = Format.patterns(format)
}

object Format {
  /** Anchored patterns per draft-04 format name. Pragmatic AJV-compatible
    * forms (AJV itself uses regex approximations for most formats).
    */
  val patterns: Map[String, String] = Map(
    "email" -> "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$",
    "date-time" -> ("^\\d{4}-\\d{2}-\\d{2}[Tt]\\d{2}:\\d{2}:\\d{2}" +
      "(\\.\\d+)?([Zz]|[+-]\\d{2}:\\d{2})?$"),
    "date" -> "^\\d{4}-\\d{2}-\\d{2}$",
    "ipv4" -> "^((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)\\.){3}(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)$",
    "uri" -> "^[A-Za-z][A-Za-z0-9+.-]*://[^\\s]+$",
    "hostname" -> "^[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?(\\.[A-Za-z0-9]([A-Za-z0-9-]{0,61}[A-Za-z0-9])?)*$")
}

/** draft-04 `additionalProperties: false` as a payload constraint. The
  * keyword cannot be checked on the parsed struct — the typed decode drops
  * unknown fields before constraints run — so the routing config carries
  * the RAW JSON string alongside the parsed fields (at `rawPath`, relative
  * to the validated struct) and this constraint keys over it. Absent or
  * corrupt raw objects are valid here; their rejection belongs to
  * `required`/parse checks (AJV's per-keyword independence).
  */
final case class NoAdditionalProps(rawPath: String, allowed: Seq[String],
                                   allowedPatterns: Seq[String] = Nil) extends Constraint

/** draft-04 `minProperties`/`maxProperties` — bounds on the RAW object's
  * count of distinct keys (like `additionalProperties`, uncheckable on the
  * parsed struct: the typed decode fixes the field set). A repeated key counts
  * once, as in the reference's `JSON.parse`. Absent/corrupt raw objects are
  * valid here (keyword independence).
  */
final case class PropsCount(rawPath: String, min: Option[Int], max: Option[Int]) extends Constraint

/** draft-04 `patternProperties` value checks: every RAW-object key matching
  * `keyRegex` has a value whose TEXT matches `valueRegex` — a string's own
  * text, any other value's compact JSON text as Spark's JSON reader renders
  * it under a string target type (so a structural `valueRegex`, e.g.
  * `^\[.*\]$`, can gate shape); JSON null passes. A repeated key is checked
  * on its LAST value, as in the reference's `JSON.parse`. Key-set
  * RESTRICTION via patternProperties (+ additionalProperties: false) is
  * [[NoAdditionalProps]]'s `allowedPatterns`.
  */
final case class PatternProps(rawPath: String, keyRegex: String,
                              valueRegex: String) extends Constraint

/** draft-04 union `type` arrays (`"type": ["string", "integer"]`) — checked
  * on the RAW JSON, where the value still HAS a JSON type (the decode into
  * a typed struct coerces or nulls it). The value's runtime type is what
  * Spark's variant parser gives it (`schema_of_variant`): an integer is
  * BIGINT or DECIMAL(p,0), `4.5` is a DECIMAL, `1e3` a DOUBLE. Missing
  * values are valid (keyword independence — pair with [[Required]] to
  * force presence).
  *
  * @param jsonPath `$.a.b` path of object keys into the raw value ("$" =
  *                 the whole value)
  */
final case class TypeUnion(rawPath: String, jsonPath: String,
                           types: Seq[String]) extends Constraint {
  types.foreach(t => require(TypeUnion.names(t), s"unknown type: $t"))
}

object TypeUnion {
  val names: Set[String] =
    Set("string", "boolean", "integer", "number", "object", "array", "null")
}

/** A registered schema: id + value constraints (structure enforced by the
  * decode StructType in [[EventCodec]]).
  *
  * draft-04 `additionalProperties: false` needs the RAW JSON column —
  * the typed decode drops unknown fields before constraints run — via
  * [[NoAdditionalProps]] (struct-relative) or
  * [[SchemaValidator.noAdditionalProps]] (free-standing).
  */
final case class RegisteredSchema(id: String, constraints: Seq[Constraint]) {
  /** Conjunction of all constraints over `root`, as one native expression;
    * vacuously true when none. Never NULL.
    */
  def valid(root: Column): Column =
    GraftBridge.column(SchemaValid(GraftBridge.expression(root),
      SchemaValidator.inlineRefs(constraints)))
}

object SchemaValidator {

  /** draft-04 `additionalProperties: false`: the object at `jsonPath` (a
    * `$.a.b` JSONPath into the raw JSON string column; `$` = root) has no
    * keys outside `allowed` — or, in the `patternProperties` interplay the
    * spec defines, outside keys matching one of `allowedPatterns`.
    * Absent/corrupt objects are valid here — their rejection belongs to
    * `required`/parse checks, matching AJV's per-keyword independence.
    */
  def noAdditionalProps(raw: Column, jsonPath: String, allowed: Seq[String],
                        allowedPatterns: Seq[String] = Nil): Column = {
    val obj = if (jsonPath == "$") raw else get_json_object(raw, jsonPath)
    RegisteredSchema("", Seq(NoAdditionalProps("raw", allowed, allowedPatterns)))
      .valid(struct(obj.as("raw")))
  }

  /** Replace every [[Ref]] by the conjunction it names, so a validator
    * holds plain data only. Throws on an unresolved reference.
    */
  def inlineRefs(cs: Seq[Constraint]): Seq[Constraint] = cs.map(inline)

  private def inline(c: Constraint): Constraint = c match {
    case Ref(id, defs) =>
      AllOf(inlineRefs(defs().getOrElse(id,
        throw new IllegalArgumentException(s"unresolved $$ref: $id"))))
    case AnyOf(alts) => AnyOf(alts.map(inlineRefs))
    case OneOf(alts) => OneOf(alts.map(inlineRefs))
    case AllOf(all) => AllOf(inlineRefs(all))
    case Not(x) => Not(inline(x))
    case Rebase(p, x) => Rebase(p, inline(x))
    case ArrayAll(p, x) => ArrayAll(p, inline(x))
    case leaf => leaf
  }
}
