package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native form of the house portable-key derivation.
  *
  * The composed formulation `conv(substring(md5(x), 1, 15), 16, 10)` is
  * semantically one digest + one shift, but executes as FOUR expressions
  * that materialize a 32-char hex STRING per row, slice it, and parse the
  * slice back through base-conversion — per shingle, across every dedup /
  * LSH / postings path, that intermediate allocation is the hot path's
  * dominant garbage. This expression computes the identical value straight
  * from the digest bytes: the first 15 hex chars are the top 60 bits
  * (bytes 0–6 and the high nibble of byte 7), the second slice (chars
  * 16–30, used by the minhash digest mixes) is the low nibble of byte 7
  * followed by bytes 8–14.
  *
  * VALUE CONTRACT (oracle parity): bit-identical to the composed form —
  * both read the same md5 nibbles in the same order into a non-negative
  * < 2⁶⁰ long; the DuckDB replay (`('0x' || substring(md5(x), o, 15))`)
  * parses the same nibbles. A parity spec fuzzes the equality on random
  * UTF-8 strings. `part` must be a literal 0 (chars 1–15) or 1 (16–30).
  */
case class Md5Bits60(child: Expression, part: Expression)
    extends BinaryExpression {
  override def left: Expression = child
  override def right: Expression = part
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "md5_bits60"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
    else part match {
      case Literal(v: Int, IntegerType) if v == 0 || v == 1 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName part must be the literal 0 (hex chars 1-15) or 1 (16-30)")
    }

  override def nullSafeEval(input: Any, p: Any): Any = {
    val d = Md5Bits60.digest(input.asInstanceOf[UTF8String].getBytes)
    Md5Bits60.slice60(d, p.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, p) => {
      val d = ctx.freshName("digest")
      s"""
         |byte[] $d = graft.functions.Md5Bits60.digest($x.getBytes());
         |${ev.value} = graft.functions.Md5Bits60.slice60($d, $p);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(child = l, part = r)
}

object HashFunctions {
  /** The portable 60-bit md5 slice as a Column, built as the [[Md5Bits60]]
    * node so it resolves on any session. Use for SINGLE-slice keys; a
    * consumer of both slices of one digest (the minhash mixes) stays on the
    * shared-hex formulation, which digests once.
    */
  def md5Bits60(c: Column, part: Int = 0): Column =
    GraftBridge.column(Md5Bits60(GraftBridge.expression(c), Literal(part)))
}

object Md5Bits60 {
  private val localMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One reused per-thread digest instance (digest() resets it). */
  def digest(bytes: Array[Byte]): Array[Byte] = localMd.get().digest(bytes)

  /** 60 bits from the digest: part 0 = hex chars 1-15 (bytes 0-6 + high
    * nibble of byte 7), part 1 = chars 16-30 (low nibble of byte 7 +
    * bytes 8-14). Matches conv(substring(hex, 1+15*part, 15), 16, 10).
    */
  def slice60(d: Array[Byte], part: Int): Long =
    if (part == 0) {
      var v = 0L
      var i = 0
      while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      (v << 4) | ((d(7) >> 4) & 0xfL)
    } else {
      var v = d(7) & 0xfL
      var i = 8
      while (i < 15) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      v
    }
}
