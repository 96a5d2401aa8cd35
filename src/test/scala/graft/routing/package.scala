package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference model of the routing validators: each [[routing.Constraint]]
  * as the built-in Column predicate it compiled to before the native
  * evaluator ([[routing.NativeValidator]]) replaced it. Specs call
  * `c.referencePredicate(root)` to get the reference verdict; the differential spec
  * compares it with `RegisteredSchema.valid` over generated documents.
  *
  * Two readings differ on purpose: for a raw object with a repeated key the
  * model counts every occurrence (`json_object_keys`) and checks every
  * occurrence's value, where the native reader keeps the reference's
  * `JSON.parse` semantics (one key, last value).
  */
package object routing {

  implicit class ReferencePredicate(private val c: Constraint) extends AnyVal {
    /** Predicate over the root struct column; true = valid. */
    def referencePredicate(root: Column): Column = ReferenceModel.predicate(c, root)
  }

  implicit class ReferenceSchema(private val s: RegisteredSchema) extends AnyVal {
    /** Conjunction of the reference predicates; vacuously true when none. */
    def referenceValid(root: Column): Column =
      s.constraints.foldLeft(lit(true))((acc, c) => acc && c.referencePredicate(root))
  }
}

package routing {

  object ReferenceModel {

    /** Dotted-path field access; "" resolves to the root itself. */
    private def at(root: Column, path: String): Column =
      if (path.isEmpty) root else path.split('.').foldLeft(root)(_ getField _)

    private def all(cs: Seq[Constraint], root: Column): Column =
      cs.foldLeft(lit(true))((acc, c) => acc && predicate(c, root))

    def predicate(c: Constraint, root: Column): Column = c match {
      case Required(path) => at(root, path).isNotNull
      case EnumIn(path, values) =>
        val f = at(root, path)
        f.isNull || f.isin(values: _*)
      case NumRange(path, min, max, exclusiveMin, exclusiveMax) =>
        val f = at(root, path)
        val lo = min.map(m => if (exclusiveMin) f > m else f >= m).getOrElse(lit(true))
        val hi = max.map(m => if (exclusiveMax) f < m else f <= m).getOrElse(lit(true))
        f.isNull || (lo && hi)
      case Pattern(path, regex) =>
        val f = at(root, path)
        f.isNull || f.rlike(regex)
      case StrLength(path, min, max) =>
        val f = at(root, path)
        val lo = min.map(m => length(f) >= m).getOrElse(lit(true))
        val hi = max.map(m => length(f) <= m).getOrElse(lit(true))
        f.isNull || (lo && hi)
      case AnyOf(alternatives) =>
        alternatives.map(all(_, root)).foldLeft(lit(false))(_ || _)
      case AllOf(cs) => all(cs, root)
      case OneOf(alternatives) =>
        alternatives.map(all(_, root))
          .map(m => when(m, lit(1)).otherwise(lit(0)))
          .reduceOption(_ + _)
          .map(_ === 1)
          .getOrElse(lit(false))
      case Not(inner) => !predicate(inner, root)
      case MultipleOf(path, n) =>
        val f = at(root, path)
        f.isNull || (f.cast("double") / lit(n)) % lit(1.0) === lit(0.0)
      case Ref(id, defs) =>
        all(defs().getOrElse(id,
          throw new IllegalArgumentException(s"unresolved $$ref: $id")), root)
      case Rebase(path, inner) => predicate(inner, at(root, path))
      case UniqueItems(path) =>
        val f = at(root, path)
        f.isNull || size(f) === size(array_distinct(f))
      case Dependencies(ifPresent, requires) =>
        at(root, ifPresent).isNull ||
          requires.foldLeft(lit(true))((acc, p) => acc && at(root, p).isNotNull)
      case ArrayItems(path, min, max) =>
        val f = at(root, path)
        val lo = min.map(m => size(f) >= m).getOrElse(lit(true))
        val hi = max.map(m => size(f) <= m).getOrElse(lit(true))
        f.isNull || (lo && hi)
      case ArrayAll(path, elem) =>
        val f = at(root, path)
        f.isNull || forall(f, x => predicate(elem, x))
      case fmt: Format =>
        val f = at(root, fmt.path)
        f.isNull || f.rlike(fmt.regex)
      case NoAdditionalProps(rawPath, allowed, allowedPatterns) =>
        val keys = json_object_keys(at(root, rawPath))
        keys.isNull || forall(keys, k =>
          allowedPatterns.foldLeft(k.isin(allowed.map(_.asInstanceOf[Any]): _*))(
            (acc, p) => acc || k.rlike(p)))
      case PropsCount(rawPath, min, max) =>
        val keys = json_object_keys(at(root, rawPath))
        val lo = min.map(m => size(keys) >= m).getOrElse(lit(true))
        val hi = max.map(m => size(keys) <= m).getOrElse(lit(true))
        keys.isNull || (lo && hi)
      case PatternProps(rawPath, keyRegex, valueRegex) =>
        val m = from_json(at(root, rawPath),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))
        m.isNull || forall(
          map_values(map_filter(m, (k, _) => k.rlike(keyRegex))),
          v => v.isNull || v.rlike(valueRegex))
      case TypeUnion(rawPath, jsonPath, types) =>
        val v =
          if (jsonPath == "$") try_parse_json(at(root, rawPath))
          else try_variant_get(try_parse_json(at(root, rawPath)), jsonPath, "variant")
        val ty = schema_of_variant(v)
        val ok = types.map {
          case "string" => ty === "STRING"
          case "boolean" => ty === "BOOLEAN"
          case "integer" => ty === "BIGINT" || ty.rlike("^DECIMAL\\(\\d+,0\\)$")
          case "number" => ty === "BIGINT" || ty === "DOUBLE" || ty === "FLOAT" ||
            ty.startsWith("DECIMAL")
          case "object" => ty.startsWith("OBJECT") || ty.startsWith("STRUCT")
          case "array" => ty.startsWith("ARRAY")
          case "null" => ty === "VOID"
          case other => throw new IllegalArgumentException(s"unknown type: $other")
        }.foldLeft(lit(false))(_ || _)
        v.isNull || ok
    }
  }
}
