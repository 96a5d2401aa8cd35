package graft.vector

import graft.functions.{CosineSimilarity, DotProduct}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

/** Vector math over `array<float>` embedding columns using only built-in
  * higher-order functions — fully codegen'd, no UDFs, no MLlib.
  *
  * Determinism note (oracle parity): every fold here is a *sequential left
  * fold in double precision* (`aggregate` with a 0.0 start). IEEE-754 double
  * ops are exactly reproducible, so the same fold in any other engine (e.g.
  * DuckDB `list_reduce` over a `DOUBLE[]`) yields bitwise-identical results —
  * which is what lets cosine scores be hash-compared against the oracle.
  */
object VectorFunctions {

  private def asDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential double left-fold of an array. */
  def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Dot product in double precision — the codegen'd [[DotProduct]] node,
    * built directly so it resolves on any session.
    */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** HOF-fold dot product: same bitwise result as [[dot]], kept as the
    * composable reference implementation and for parity tests.
    */
  def dotFold(a: Column, b: Column): Column =
    foldSum(zip_with(asDouble(a), asDouble(b), (x, y) => x * y))

  /** Euclidean norm in double precision. */
  def norm(a: Column): Column = {
    val d = asDouble(a)
    sqrt(foldSum(zip_with(d, d, (x, y) => x * y)))
  }

  /** Cosine similarity in double precision — the fused [[CosineSimilarity]] node. */
  def cosine(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** HOF-fold cosine: same bitwise result as [[cosine]] (reference/tests). */
  def cosineFold(a: Column, b: Column): Column =
    dotFold(a, b) / (norm(a) * norm(b))

  /** Sign-bit binary quantization: bit i = [v[i] > 0], packed into one 64-bit
    * code (dim ≤ 64). The serving-side representation is 8 bytes per vector —
    * at 10⁹ vectors the candidate scan reads 8 GB of codes instead of 256 GB
    * of floats, and hamming distance is a single `bit_count(xor)` per pair.
    *
    * Bit values are literal powers of two (bit 63 is Long.MinValue in two's
    * complement); bits are disjoint, so every partial sum stays in range and
    * the sum is ANSI-safe. The identical literals embed in the DuckDB oracle.
    */
  def signBits(v: Column, dim: Int): Column = {
    require(dim <= 64, "signBits packs into a single 64-bit code")
    (0 until dim).map { i =>
      when(element_at(v, i + 1) > lit(0d), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Hamming distance between two packed sign-bit codes. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** Sign-bit LSH bucket id: for each hyperplane, 1 bit = sign of dot(v, p);
    * bucket = Σ 2^i · [dot(v, pᵢ) > 0]. Random-hyperplane LSH: P[bit equal]
    * = 1 − θ/π (Charikar, STOC'02).
    *
    * Plane values are known statically, so the bucket is built as a flat sum
    * of native `vec_dot` sign tests — fully codegen'd, no per-row lambda
    * iteration over the plane array.
    */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, array(p.map(lit): _*)) > 0d, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
}
