package graft.routing

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, BoundReference, Cast, Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** A [[Constraint]] list compiled once against the validated root's data
  * type: field paths resolve to ordinals, regexes compile and enum values
  * cast to their field's type here, so evaluating a row is one walk over
  * its fields plus at most one read of each raw JSON object
  * ([[RawJson]]).
  *
  * Every constraint keeps the verdict of the Column predicate it replaces
  * (the reference model the differential spec compares against), with two
  * deliberate exceptions: a raw object's repeated key counts once and its
  * last value wins, as in the reference's `JSON.parse`. Where a field's
  * type is not the one a constraint reads, the value goes through the cast
  * Spark's coercion would insert (`rlike` on a long, `>=` on a string).
  */
private[routing] final class NativeValidator(rootType: DataType, constraints: Seq[Constraint]) {
  import NativeValidator._

  /** The shared read of each raw JSON column at the root, by path. */
  private val rawSlots = mutable.LinkedHashMap.empty[String, RawSlot]

  private val check: Check = {
    val c = compileAll(constraints, rootType, top = true)
    rawSlots.values.foreach(_.freeze())
    c
  }

  private var stamp = 0L

  def valid(root: Any): Boolean = {
    stamp += 1
    check.ok(root)
  }

  // ------------------------------------------------------------- compile

  private def compileAll(cs: Seq[Constraint], t: DataType, top: Boolean): Check =
    cs.map(compile(_, t, top)) match {
      case Seq(one) => one
      case many => new All(many.toArray)
    }

  private def compile(c: Constraint, t: DataType, top: Boolean): Check = c match {
    case Required(p) =>
      val g = getter(t, p)
      new Check { def ok(r: Any) = g(r) != null }
    case Dependencies(p, reqs) =>
      val g = getter(t, p)
      val rs = reqs.map(getter(t, _)).toArray
      new Check { def ok(r: Any) = g(r) == null || !rs.exists(_(r) == null) }
    case EnumIn(p, values) =>
      val g = getter(t, p)
      val ord = TypeUtils.getInterpretedOrdering(g.leaf)
      val vs = values.map(v => castLiteral(v, g.leaf)).toArray
      new Check {
        def ok(r: Any) = {
          val v = g(r)
          v == null || vs.exists(x => x != null && ord.equiv(v, x))
        }
      }
    case NumRange(p, min, max, exMin, exMax) =>
      val d = doubles(getter(t, p))
      val lo = min.getOrElse(0.0)
      val hi = max.getOrElse(0.0)
      new Check {
        def ok(r: Any) = {
          val v = d(r)
          v == null || {
            val x = v.doubleValue
            (min.isEmpty || { val c = SQLOrderingUtil.compareDoubles(x, lo); if (exMin) c > 0 else c >= 0 }) &&
              (max.isEmpty || { val c = SQLOrderingUtil.compareDoubles(x, hi); if (exMax) c < 0 else c <= 0 })
          }
        }
      }
    case MultipleOf(p, n) =>
      val d = doubles(getter(t, p))
      new Check {
        def ok(r: Any) = {
          val v = d(r)
          v == null || (v.doubleValue / n) % 1.0 == 0.0
        }
      }
    case Pattern(p, regex) => matches(getter(t, p), regex)
    case f @ Format(p, _) => matches(getter(t, p), f.regex)
    case StrLength(p, min, max) =>
      val s = strings(getter(t, p))
      new Check {
        def ok(r: Any) = {
          val v = s(r)
          v == null || within(v.numChars, min, max)
        }
      }
    case ArrayItems(p, min, max) =>
      val g = getter(t, p)
      val size: Any => Int = g.leaf match {
        case _: ArrayType => _.asInstanceOf[ArrayData].numElements
        case _: MapType => _.asInstanceOf[MapData].numElements
        case other => unsupported(c, other)
      }
      new Check {
        def ok(r: Any) = {
          val v = g(r)
          v == null || within(size(v), min, max)
        }
      }
    case UniqueItems(p) =>
      val g = getter(t, p)
      val at = g.leaf match {
        case a: ArrayType => a
        case other => unsupported(c, other)
      }
      // array_distinct's own equality: NaN equals NaN, nulls equal
      val distinct = ArrayDistinct(BoundReference(0, at, nullable = true))
      new Check {
        def ok(r: Any) = {
          val v = g(r)
          v == null || v.asInstanceOf[ArrayData].numElements ==
            distinct.eval(new GenericInternalRow(Array[Any](v)))
              .asInstanceOf[ArrayData].numElements
        }
      }
    case ArrayAll(p, elem) =>
      val g = getter(t, p)
      val et = g.leaf match {
        case ArrayType(e, _) => e
        case other => unsupported(c, other)
      }
      val e = compile(elem, et, top = false)
      new Check {
        def ok(r: Any) = {
          val v = g(r)
          v == null || {
            val a = v.asInstanceOf[ArrayData]
            var i = 0
            var all = true
            while (all && i < a.numElements) {
              all = e.ok(if (a.isNullAt(i)) null else a.get(i, et))
              i += 1
            }
            all
          }
        }
      }
    case Rebase(p, inner) =>
      val g = getter(t, p)
      val e = compile(inner, g.leaf, top = false)
      new Check { def ok(r: Any) = e.ok(g(r)) }
    case AllOf(all) => compileAll(all, t, top)
    case AnyOf(alts) =>
      val as = alts.map(compileAll(_, t, top)).toArray
      new Check { def ok(r: Any) = as.exists(_.ok(r)) }
    case OneOf(alts) =>
      val as = alts.map(compileAll(_, t, top)).toArray
      new Check {
        def ok(r: Any) = {
          var n = 0
          var i = 0
          while (n < 2 && i < as.length) { if (as(i).ok(r)) n += 1; i += 1 }
          n == 1
        }
      }
    case Not(inner) =>
      val e = compile(inner, t, top)
      new Check { def ok(r: Any) = !e.ok(r) }
    case NoAdditionalProps(rp, allowed, patterns) =>
      val (_, raw) = rawRead(t, rp, top)
      val known = allowed.toSet
      val ps = patterns.map(java.util.regex.Pattern.compile).toArray
      new Check {
        def ok(r: Any) = {
          val j = raw(r)
          j == null || !j.keysOk || {
            val it = j.values.keySet.iterator
            var all = true
            while (all && it.hasNext) {
              val k = it.next()
              all = known(k) || ps.exists(_.matcher(k).find(0))
            }
            all
          }
        }
      }
    case PropsCount(rp, min, max) =>
      val (_, raw) = rawRead(t, rp, top)
      new Check {
        def ok(r: Any) = {
          val j = raw(r)
          j == null || !j.keysOk || within(j.values.size, min, max)
        }
      }
    case PatternProps(rp, keyRegex, valueRegex) =>
      val kp = java.util.regex.Pattern.compile(keyRegex)
      val vp = java.util.regex.Pattern.compile(valueRegex)
      val (slot, raw) = rawRead(t, rp, top)
      slot.textKeys += kp
      new Check {
        def ok(r: Any) = {
          val j = raw(r)
          j == null || !j.mapOk || {
            val it = j.values.entrySet.iterator
            var all = true
            while (all && it.hasNext) {
              val e = it.next()
              all = !kp.matcher(e.getKey).find(0) || e.getValue == null ||
                vp.matcher(e.getValue).find(0)
            }
            all
          }
        }
      }
    case TypeUnion(rp, jsonPath, types) =>
      val (slot, raw) = rawRead(t, rp, top)
      val probe = slot.probe(jsonPathKeys(jsonPath))
      new Check {
        def ok(r: Any) = {
          val j = raw(r)
          j == null || !j.variantOk || {
            val ty = j.probeTypes(probe)
            ty == null || types.exists(typeMatches(_, ty))
          }
        }
      }
    case ref: Ref =>
      throw new IllegalArgumentException(s"$ref must be inlined before compiling")
  }

  /** The read of the raw JSON column at `rawPath` and its reader: at the
    * root, one shared read per row and column; inside an array element or a
    * rebased subtree, a read per evaluation.
    */
  private def rawRead(t: DataType, rawPath: String, top: Boolean): (RawSlot, Any => RawJson) = {
    val g = getter(t, rawPath)
    if (g.leaf != StringType)
      throw new IllegalArgumentException(
        s"raw JSON column '$rawPath' must be a string, not ${g.leaf.simpleString}")
    val slot = if (top) rawSlots.getOrElseUpdate(rawPath, new RawSlot) else new RawSlot
    val read: Any => RawJson =
      if (top) r => slot.read(g(r).asInstanceOf[UTF8String], stamp)
      else r => { slot.freeze(); slot.read(g(r).asInstanceOf[UTF8String], -1L) }
    (slot, read)
  }

  private def matches(g: Getter, regex: String): Check = {
    val s = strings(g)
    val rx = java.util.regex.Pattern.compile(regex)
    new Check {
      def ok(r: Any) = {
        val v = s(r)
        v == null || rx.matcher(v.toString).find(0)
      }
    }
  }
}

private[routing] object NativeValidator {

  abstract class Check { def ok(root: Any): Boolean }

  final class All(cs: Array[Check]) extends Check {
    def ok(r: Any): Boolean = {
      var i = 0
      while (i < cs.length) { if (!cs(i).ok(r)) return false; i += 1 }
      true
    }
  }

  /** A resolved dotted field path: the struct ordinals and the type at
    * each step. "" is the root itself.
    */
  final class Getter(ords: Array[Int], types: Array[DataType], val leaf: DataType)
      extends (Any => Any) {
    def apply(root: Any): Any = {
      var v = root
      var i = 0
      while (v != null && i < ords.length) {
        val row = v.asInstanceOf[InternalRow]
        v = if (row.isNullAt(ords(i))) null else row.get(ords(i), types(i))
        i += 1
      }
      v
    }
  }

  /** Resolve `path` in `t` the way `Column.getField` does (exact name
    * first, then case-insensitively); a missing field fails the compile.
    */
  def getter(t: DataType, path: String): Getter = {
    if (path.isEmpty) return new Getter(Array.empty, Array.empty, t)
    val ords = mutable.ArrayBuffer.empty[Int]
    val types = mutable.ArrayBuffer.empty[DataType]
    var cur = t
    path.split('.').foreach { name =>
      cur match {
        case s: StructType =>
          val exact = s.fields.indexWhere(_.name == name)
          val i = if (exact >= 0) exact else {
            val ci = s.fields.indices.filter(j => SQLConf.get.resolver(s.fields(j).name, name))
            require(ci.size <= 1, s"ambiguous field '$name' in path '$path'")
            ci.headOption.getOrElse(-1)
          }
          require(i >= 0, s"no field '$name' (path '$path') in ${s.simpleString}")
          ords += i
          cur = s.fields(i).dataType
          types += cur
        case other =>
          throw new IllegalArgumentException(
            s"path '$path' reads field '$name' of a ${other.simpleString}")
      }
    }
    new Getter(ords.toArray, types.toArray, cur)
  }

  /** The value at `g` as a double, cast as Spark coerces it against a
    * double literal.
    */
  def doubles(g: Getter): Any => java.lang.Double = {
    val f: Any => Any = g.leaf match {
      case DoubleType => v => v
      case LongType => v => v.asInstanceOf[Long].toDouble
      case IntegerType => v => v.asInstanceOf[Int].toDouble
      case ShortType => v => v.asInstanceOf[Short].toDouble
      case ByteType => v => v.asInstanceOf[Byte].toDouble
      case FloatType => v => v.asInstanceOf[Float].toDouble
      case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
      case other => cast1(other, DoubleType)
    }
    r => { val v = g(r); if (v == null) null else f(v).asInstanceOf[java.lang.Double] }
  }

  /** The value at `g` as a string, cast as Spark coerces it for a string
    * function.
    */
  def strings(g: Getter): Any => UTF8String = g.leaf match {
    case StringType => r => g(r).asInstanceOf[UTF8String]
    case other =>
      val cast = cast1(other, StringType)
      r => cast(g(r)).asInstanceOf[UTF8String]
  }

  private def cast1(from: DataType, to: DataType): Any => Any = {
    val c = Cast(BoundReference(0, from, nullable = true), to, Some("UTC"))
    v => c.eval(new GenericInternalRow(Array[Any](v)))
  }

  /** An enum value as `IN` compares it: the string literal cast to the
    * field's type.
    */
  def castLiteral(v: String, t: DataType): Any =
    if (t == StringType) UTF8String.fromString(v)
    else Cast(Literal(v), t, Some("UTC")).eval()

  /** `$`, `$.a`, `$.a.b` → the object keys along the path. */
  def jsonPathKeys(jsonPath: String): Array[String] = {
    require(jsonPath == "$" || (jsonPath.startsWith("$.") &&
      !jsonPath.exists(c => c == '[' || c == ']') &&
      !jsonPath.drop(2).split("\\.", -1).exists(_.isEmpty)),
      s"json path '$jsonPath' must be $$ or a $$.a.b path of object keys")
    if (jsonPath == "$") Array.empty else jsonPath.drop(2).split('.')
  }

  /** The draft-04 type names' reading of a `schema_of_variant` name. */
  def typeMatches(name: String, ty: String): Boolean = name match {
    case "string" => ty == "STRING"
    case "boolean" => ty == "BOOLEAN"
    case "integer" => ty == "BIGINT" || ty.matches("^DECIMAL\\(\\d+,0\\)$")
    case "number" => ty == "BIGINT" || ty == "DOUBLE" || ty == "FLOAT" ||
      ty.startsWith("DECIMAL")
    case "object" => ty.startsWith("OBJECT") || ty.startsWith("STRUCT")
    case "array" => ty.startsWith("ARRAY")
    case "null" => ty == "VOID"
  }

  /** `n` within the optional inclusive bounds. */
  def within(n: Int, min: Option[Int], max: Option[Int]): Boolean =
    min.fold(true)(n >= _) && max.fold(true)(n <= _)

  private def unsupported(c: Constraint, t: DataType): Nothing =
    throw new IllegalArgumentException(s"$c cannot validate a ${t.simpleString}")

  /** The shared read of one raw column: which probe paths and which keys'
    * non-string values it gathers, and its per-row result.
    */
  final class RawSlot {
    private val probes = mutable.ArrayBuffer.empty[Array[String]]
    val textKeys = mutable.ArrayBuffer.empty[java.util.regex.Pattern]
    private var reader: RawJson = _
    private var readAt = Long.MinValue
    private var last: RawJson = _

    def probe(path: Array[String]): Int = {
      val i = probes.indexWhere(_.sameElements(path))
      if (i >= 0) i else { probes += path; probes.size - 1 }
    }

    def freeze(): Unit = if (reader == null) {
      val keys = textKeys.toArray
      reader = new RawJson(probes.toIndexedSeq, k => keys.exists(_.matcher(k).find(0)))
    }

    /** This row's read (`stamp` < 0: never reuse). */
    def read(raw: UTF8String, stamp: Long): RawJson =
      if (raw == null) null
      else if (stamp >= 0 && stamp == readAt) last
      else {
        reader.read(raw)
        readAt = stamp
        last = reader
        last
      }
  }

  /** A compile failure as the analyzer reports a type mismatch. */
  def checked(build: => Any): TypeCheckResult =
    try { build; TypeCheckResult.TypeCheckSuccess }
    catch { case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage) }
}

/** `RegisteredSchema.valid` as one expression: the constraint conjunction
  * over `child`, never NULL. Its fields are plain data (no closures), so it
  * serializes to executors and canonicalizes structurally; the compiled
  * form is rebuilt wherever it is first evaluated.
  */
case class SchemaValid(child: Expression, constraints: Seq[Constraint])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "schema_valid"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"${constraints.size} constraints")

  @transient private lazy val validator = new NativeValidator(child.dataType, constraints)

  override def checkInputDataTypes(): TypeCheckResult =
    NativeValidator.checked(new NativeValidator(child.dataType, constraints))

  override def eval(input: InternalRow): Any = validator.valid(child.eval(input))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** [[Router.tag]]'s branch index in one pass per record, in the reference's
  * short-circuit order: 1 undecodable (NULL event), 2 missing envelope
  * `schema`, 3 wrong envelope schema id, 4 envelope constraints fail, 5
  * `data.schema` missing or unregistered (one hash lookup), 6 that
  * document's constraints fail, 0 routed. Fields are plain data, sorted by
  * id, so equal configs give equal expressions.
  */
case class RouteVerdict(child: Expression, eventSchemaId: String,
                        envelope: Seq[Constraint],
                        payloads: Seq[(String, Seq[Constraint])])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "route_verdict"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, eventSchemaId, s"${payloads.size} schemas")

  @transient private lazy val compiled = new RouteVerdict.Compiled(child.dataType, this)

  override def checkInputDataTypes(): TypeCheckResult =
    NativeValidator.checked(new RouteVerdict.Compiled(child.dataType, this))

  override def eval(input: InternalRow): Any = compiled.verdict(child.eval(input))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object RouteVerdict {
  import NativeValidator.{getter, strings}

  private final class Compiled(t: DataType, e: RouteVerdict) {
    private val schema = strings(getter(t, "schema"))
    private val data = getter(t, "data")
    private val dataSchema = strings(getter(t, "data.schema"))
    private val eventSchemaId = UTF8String.fromString(e.eventSchemaId)
    private val envelope = new NativeValidator(t, e.envelope)
    private val index = new java.util.HashMap[UTF8String, Integer]()
    private val payloads = e.payloads.zipWithIndex.map { case ((id, cs), i) =>
      index.put(UTF8String.fromString(id), i)
      new NativeValidator(data.leaf, cs)
    }.toArray

    def verdict(ev: Any): Int =
      if (ev == null) 1
      else {
        val s = schema(ev)
        if (s == null) 2
        else if (s != eventSchemaId) 3
        else if (!envelope.valid(ev)) 4
        else {
          val id = dataSchema(ev)
          val i = if (id == null) null else index.get(id)
          if (i == null) 5
          else if (!payloads(i).valid(data(ev))) 6
          else 0
        }
      }
  }
}
