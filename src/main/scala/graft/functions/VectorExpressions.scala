package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot path (SURVEY.md §4's
  * "custom Expression for fused cosine" case).
  *
  * The composable formulation (`zip_with` + `aggregate`) is evaluated by the
  * interpreted higher-order-function machinery — per-element closure calls
  * and boxing — which dominates wall-clock when millions of candidate pairs
  * are scored. These expressions run the same arithmetic as a tight
  * codegen'd loop over the primitive `ArrayData`.
  *
  * Numeric contract (oracle parity): identical IEEE-754 operation sequence
  * as the fold form — elements widened to double, accumulated left-to-right
  * in index order, `cosine = dot / (sqrt(na) * sqrt(nb))` — so results are
  * bitwise equal to both the HOF formulation and DuckDB's `list_reduce`
  * double fold. Null/length-mismatch inputs yield NULL, matching `zip_with`
  * null propagation.
  */
abstract class VecBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> arguments")
  }

  @inline protected final def elem(a: ArrayData, dt: DataType, i: Int): Double =
    dt match {
      case FloatType => a.getFloat(i).toDouble
      case _ => a.getDouble(i)
    }

  protected final def genGetter(dt: DataType, arr: String, i: String): String =
    dt match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
}

/** dot(a, b) = Σ aᵢ·bᵢ in double, left-to-right. SQL name: `vec_dot`. */
case class DotProduct(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += elem(a, lt, i) * elem(b, rt, i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0; boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $dot += (${genGetter(elemType(left), a, i)}) * (${genGetter(elemType(right), b, i)});
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot/(‖a‖·‖b‖), fused single pass. SQL name: `vec_cosine`. */
case class CosineSimilarity(left: Expression, right: Expression) extends VecBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, lt, i)
      val y = elem(b, rt, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0; boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    double $x = ${genGetter(elemType(left), a, i)};
         |    double $y = ${genGetter(elemType(right), b, i)};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if ($bad) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb)); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The one wiring point for the SQL names `vec_dot`, `vec_cosine` and
  * `md5_bits60` and the [[FuseVectorFolds]] rule. [[graft.GraftSession.builder]]
  * installs it; any other builder can add `.withExtensions(new GraftExtensions)`
  * or set `spark.sql.extensions=graft.functions.GraftExtensions`. `newSession()`
  * clones inherit it. The DataFrame API ([[graft.vector.VectorFunctions]],
  * [[HashFunctions]]) builds the nodes directly and needs none of this.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "vec_cosine"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("md5_bits60"),
      new ExpressionInfo(classOf[Md5Bits60].getName, "md5_bits60"),
      (exprs: Seq[Expression]) => Md5Bits60(exprs(0), exprs(1))))
    // a once-per-plan batch: as an operator-optimization rule it would rerun
    // on every fixed-point iteration (measured: routing plan time doubled)
    ext.injectPreCBORule(_ => FuseVectorFolds)
  }
}
