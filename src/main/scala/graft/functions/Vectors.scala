package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector ops over `array<float>` embedding columns as pure Catalyst
  * expressions (`zip_with`/`aggregate`) — codegen-friendly, no UDFs, no ML
  * pipeline dependency. Floats are widened to double BEFORE any arithmetic
  * (lossless) and accumulated left-to-right, so results are deterministic.
  */
object Vectors {

  /** Codegen'd kernels (see [[VectorExpressions]]) — the hot-path forms. */
  def dot(a: Column, b: Column): Column = VectorExpressions.dotProduct(a, b)

  def cosine(a: Column, b: Column): Column = VectorExpressions.cosineSim(a, b)

  def euclidean(a: Column, b: Column): Column = sqrt(VectorExpressions.l2Squared(a, b))

  def l2sq(a: Column, b: Column): Column = VectorExpressions.l2Squared(a, b)

  /** Unit-normalized copy of a float/double vector (zero vectors pass
    * through unchanged). L2 distance between unit vectors is monotone in
    * cosine, which lets L2-trained quantizers serve cosine search.
    * Codegen'd single-pass kernel ([[UnitVector]]) — bit-identical to the
    * zip_with formulation it replaces (see the expression doc), and the
    * same body the IVF/PQ model expressions normalize through.
    * The output element type follows the input's (float stays float,
    * double stays double — no silent 24-bit rounding).
    */
  def unit(a: Column): Column = VectorExpressions.unitVector(a)

  /** [[unit]]'s HOF reference form (bit-identical; cross-checked in
    * VectorsSpec against the kernel).
    */
  def unitHof(a: Column, elemType: String = "float"): Column = {
    val n = sqrt(VectorExpressions.dotProduct(a, a))
    when(n > 0,
      zip_with(a, array_repeat(n, size(a)), (x, nn) => (x.cast("double") / nn).cast(elemType)))
      .otherwise(a)
  }

  /** Interpreted higher-order-function forms — kept as the pure-built-in
    * reference implementation (bit-identical results; used to cross-check
    * the codegen kernels in tests).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def norm2Hof(a: Column): Column = sqrt(dotHof(a, a))

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (norm2Hof(a) * norm2Hof(b))

  /** Per-element symmetric int8 quantization of a float vector:
    * `q = clamp(floor(x*127 + 0.5), -127, 127)` — floor arithmetic (not
    * `round`) because HALF_UP vs banker's rounding differs across engines,
    * while `floor(x + 0.5)` is bit-identical everywhere. Returns
    * `array<double>` (cast to `array<tinyint>` for 4×-smaller storage);
    * quantize [[unit]] vectors when the consumer ranks by cosine — unit
    * components never saturate the clamp.
    */
  def quantizeInt8(v: Column): Column =
    transform(v, x =>
      greatest(lit(-127d), least(lit(127d), floor(x.cast("double") * 127 + 0.5))))

  /** Sign-bit LSH bucket code from the first `bits` components: a cheap,
    * deterministic coarse partitioner for ANN (IVF-style candidate pruning).
    * At scale this is the partition key that keeps each similarity probe on
    * one executor instead of a full cross join.
    */
  def signBucket(a: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      when(element_at(a, i + 1) >= 0f, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
}
