package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** Codegen'd single-pass vector similarity kernels.
  *
  * The higher-order-function formulation (`aggregate`/`zip_with`) is
  * interpreted (no `doGenCode` on HOFs) and walks each array three times
  * (dot, |a|, |b|). At ANN scale — millions of candidate pairs × wide
  * embeddings — that interpretation overhead dominates the query. These
  * expressions generate a primitive float loop inside whole-stage codegen:
  * one pass, three accumulators, no boxing.
  *
  * Accumulation is left-to-right in double (floats widened losslessly), so
  * results are bit-identical to the HOF version and to a sequential C
  * implementation — determinism is preserved for oracle comparison.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  // array<tinyint> is accepted alongside float/double so the SAME kernels
  // serve asymmetric quantized scoring (float query × int8 corpus): bytes
  // widen to double losslessly, so mixing element types stays deterministic
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) | ArrayType(ByteType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double|tinyint> inputs, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  protected def getter(e: Expression, arr: String, i: String): String =
    elemType(e) match {
      case DoubleType => s"$arr.getDouble($i)"
      case ByteType => s"(double) $arr.getByte($i)"
      case _ => s"(double) $arr.getFloat($i)"
    }

  protected def getElem(e: Expression, a: ArrayData, i: Int): Double =
    elemType(e) match {
      case DoubleType => a.getDouble(i)
      case ByteType => a.getByte(i).toDouble
      case _ => a.getFloat(i).toDouble
    }
}

/** cosine(a, b) = a·b / (|a|·|b|), one fused loop. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = getElem(left, a, i); val y = getElem(right, b, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${getter(left, a, s"$i")};
         |  double $y = ${getter(right, b, s"$i")};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Plain dot product, one loop. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += getElem(left, a, i) * getElem(right, b, i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ${getter(left, a, s"$i")} * ${getter(right, b, s"$i")};
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Squared L2 distance, one loop. */
case class L2Squared(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def prettyName: String = "l2_squared"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = getElem(left, a, i) - getElem(right, b, i)
      s += d * d; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ${getter(left, a, s"$i")} - ${getter(right, b, s"$i")};
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Unit-normalized copy of a float/double vector, one fused loop (zero
  * vectors pass through unchanged). Bit-identical to the higher-order-
  * function form it replaces — `when(sqrt(dot(a,a)) > 0, zip_with(a,
  * array_repeat(norm, size(a)), (x, n) => (x.cast(double) / n)
  * .cast(elem))).otherwise(a)` — the norm is one left-to-right double
  * accumulation, each element divides in double and casts back to the
  * input element type, and a non-positive (or NaN) norm returns the input
  * as-is. The HOF form was interpreted (no doGenCode on lambda functions)
  * and walked the array three times; this is one primitive loop, and the
  * vector-model expressions below normalize through the same body
  * ([[UnitVector.normalize]]).
  * Output element type = input element type; containsNull = true exactly
  * as the zip_with form advertised (schema-stable for dumped artifacts).
  */
case class UnitVector(child: Expression) extends UnaryExpression {

  override def prettyName: String = "unit_vector"

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = ArrayType(elemType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    UnitVector.checkEmbedding(prettyName, child)

  override def nullSafeEval(v: Any): Any =
    UnitVector.normalize(v.asInstanceOf[ArrayData], elemType == DoubleType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.UnitVector.normalize($a, ${elemType == DoubleType})")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object UnitVector {

  /** The unit vector of `a`: its elements divided by its L2 norm (one
    * left-to-right double accumulation), each quotient cast back to the
    * element type; `a` itself when the norm is not positive (zero or NaN).
    */
  def normalize(a: ArrayData, isDouble: Boolean): ArrayData = {
    val n = a.numElements()
    var dot = 0.0
    var i = 0
    if (isDouble) {
      while (i < n) { val x = a.getDouble(i); dot += x * x; i += 1 }
      val nrm = math.sqrt(dot)
      if (!(nrm > 0)) a
      else {
        val out = new Array[Double](n)
        i = 0
        while (i < n) { out(i) = a.getDouble(i) / nrm; i += 1 }
        UnsafeArrayData.fromPrimitiveArray(out)
      }
    } else {
      while (i < n) { val x = a.getFloat(i).toDouble; dot += x * x; i += 1 }
      val nrm = math.sqrt(dot)
      if (!(nrm > 0)) a
      else {
        val out = new Array[Float](n)
        i = 0
        while (i < n) { out(i) = (a.getFloat(i).toDouble / nrm).toFloat; i += 1 }
        UnsafeArrayData.fromPrimitiveArray(out)
      }
    }
  }

  private[functions] def checkEmbedding(name: String, e: Expression): TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name requires array<float|double> input, got ${other.simpleString}")
    }
}

/** A whole vector model as ONE expression argument: `books(j)(c)` is
  * codeword `c` of subspace `j`. A PQ model has `m` books; an IVF model is
  * one book whose codewords are its centroids. Equality and hash follow the
  * content, and `toString` is the sizes plus a content hash, so two models
  * built from equal arrays give equal expressions and equal plan strings.
  */
final class Codebooks(val books: Array[Array[Array[Float]]]) extends Serializable {

  override def equals(o: Any): Boolean = o match {
    case that: Codebooks => java.util.Arrays.deepEquals(
      books.asInstanceOf[Array[AnyRef]], that.books.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode: Int = java.util.Arrays.deepHashCode(books.asInstanceOf[Array[AnyRef]])

  override def toString: String = {
    val codes = books.headOption.fold(0)(_.length)
    val width = books.headOption.flatMap(_.headOption).fold(0)(_.length)
    f"codebooks[${books.length}x${codes}x$width/$hashCode%08x]"
  }
}

/** The kernels of the vector-model expressions, shared by their `eval` and
  * their generated code. Every distance and dot product runs as
  * [[L2Squared]] and [[DotProduct]] do: in double, left to right, over the
  * shorter of the two vectors. A subspace is `slice(unit, j·dSub + 1, dSub)`,
  * `dSub` being the first codeword's width. Orderings are `array_min` /
  * `array_sort` over `struct(d, i)`: distance ascending in Spark's double
  * order (NaN largest), then the lower id.
  */
object VectorKernels {

  /** `emb`'s unit vector, widened to double (a null element reads 0). */
  private def unitValues(emb: ArrayData, isDouble: Boolean): Array[Double] = {
    val u = UnitVector.normalize(emb, isDouble)
    val n = u.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = if (u.isNullAt(i)) 0.0 else if (isDouble) u.getDouble(i) else u.getFloat(i).toDouble
      i += 1
    }
    out
  }

  /** Length of subspace `j`'s slice of an `n`-element vector. */
  private def subLen(n: Int, j: Int, dSub: Int): Int =
    if (j * dSub >= n) 0 else math.min(dSub, n - j * dSub)

  private def l2(u: Array[Double], off: Int, len: Int, cw: Array[Float]): Double = {
    val n = math.min(len, cw.length)
    var s = 0.0
    var i = 0
    while (i < n) { val d = u(off + i) - cw(i).toDouble; s += d * d; i += 1 }
    s
  }

  private def dot(u: Array[Double], off: Int, len: Int, cw: Array[Float]): Double = {
    val n = math.min(len, cw.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += u(off + i) * cw(i).toDouble; i += 1 }
    s
  }

  /** The ids of the `n` least distances, least first: Spark's double
    * order (NaN largest), ties to the lower id.
    */
  private def nearest(d: Array[Double], n: Int): Array[Int] = {
    val taken = new Array[Boolean](d.length)
    Array.fill(math.min(n, d.length)) {
      var best = -1
      var c = 0
      while (c < d.length) {
        if (!taken(c) && (best < 0 || SQLOrderingUtil.compareDoubles(d(c), d(best)) < 0)) best = c
        c += 1
      }
      taken(best) = true
      best
    }
  }

  /** The `nProbe` nearest centroids of `emb` (the one book of `model`),
    * nearest first; `[0 … nProbe-1]` for a null `emb`, whose distances
    * are all null and so tie.
    */
  def nearestCentroids(emb: ArrayData, isDouble: Boolean, model: Codebooks, nProbe: Int): ArrayData = {
    val cents = model.books.head
    val d =
      if (emb == null) new Array[Double](cents.length)
      else { val u = unitValues(emb, isDouble); cents.map(l2(u, 0, u.length, _)) }
    UnsafeArrayData.fromPrimitiveArray(nearest(d, nProbe))
  }

  /** `emb`'s PQ codes: per subspace, the nearest codeword's id; all zero
    * for a null `emb`.
    */
  def pqEncode(emb: ArrayData, isDouble: Boolean, model: Codebooks): ArrayData = {
    val codes = new Array[Int](model.books.length)
    if (emb != null) {
      val u = unitValues(emb, isDouble)
      val w = model.books.head.head.length
      for (j <- codes.indices) {
        val len = subLen(u.length, j, w)
        codes(j) = nearest(model.books(j).map(l2(u, j * w, len, _)), 1)(0)
      }
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  /** `emb`'s ADC table: entry (j, c) is the dot product of subspace `j`
    * with codeword `c` of book `j`; every entry null for a null `emb`.
    */
  def adcTable(emb: ArrayData, isDouble: Boolean, model: Codebooks): ArrayData = {
    val books = model.books
    new GenericArrayData(
      if (emb == null) Array.tabulate[Any](books.length)(j =>
        new GenericArrayData(new Array[Any](books(j).length)))
      else {
        val u = unitValues(emb, isDouble)
        val w = books.head.head.length
        Array.tabulate[Any](books.length) { j =>
          val len = subLen(u.length, j, w)
          UnsafeArrayData.fromPrimitiveArray(books(j).map(dot(u, j * w, len, _)))
        }
      })
  }
}

/** A vector model applied to an embedding column as one expression: the
  * model rides as a single argument (pinned by `addReferenceObj` in
  * generated code), and `eval` and the generated code call the same static
  * kernel in [[VectorKernels]]. A null embedding gives the model's null
  * answer (see each kernel), never a null result.
  */
abstract class VectorModelExpression extends UnaryExpression {
  def model: Codebooks

  /** The [[VectorKernels]] method, and any argument after the model. */
  protected def kernel: String
  protected def extraArgs: String = ""
  protected def run(emb: ArrayData, isDouble: Boolean): ArrayData

  override def nullable: Boolean = false

  protected def isDouble: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  override def checkInputDataTypes(): TypeCheckResult = UnitVector.checkEmbedding(prettyName, child)

  override def eval(input: InternalRow): Any =
    run(child.eval(input).asInstanceOf[ArrayData], isDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val emb = child.genCode(ctx)
    val ref = ctx.addReferenceObj("model", model, classOf[Codebooks].getName)
    ev.copy(code = code"""
      |${emb.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.VectorKernels.$kernel(
      |  ${emb.isNull} ? null : ${emb.value}, $isDouble, $ref$extraArgs);
      """.stripMargin, isNull = FalseLiteral)
  }
}

/** `nearest_centroids(emb)`: the `nProbe` nearest IVF centroids of the
  * unit embedding, nearest first (`array<int>`, at most `nProbe` ids).
  */
case class NearestCentroids(child: Expression, model: Codebooks, nProbe: Int)
    extends VectorModelExpression {
  require(nProbe >= 0, s"nProbe must be >= 0, got $nProbe")
  override def prettyName: String = "nearest_centroids"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def kernel = "nearestCentroids"
  override protected def extraArgs = s", $nProbe"
  override protected def run(emb: ArrayData, isDouble: Boolean): ArrayData =
    VectorKernels.nearestCentroids(emb, isDouble, model, nProbe)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** `pq_encode(emb)`: the `m` PQ codes of the unit embedding. Elements are
  * declared nullable, as the per-subspace `array_min` form declared them
  * (schema-stable for persisted code indexes).
  */
case class PqEncode(child: Expression, model: Codebooks) extends VectorModelExpression {
  override def prettyName: String = "pq_encode"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override protected def kernel = "pqEncode"
  override protected def run(emb: ArrayData, isDouble: Boolean): ArrayData =
    VectorKernels.pqEncode(emb, isDouble, model)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** `adc_table(emb)`: the `m × numCodes` ADC table of the unit embedding.
  * Entries are nullable exactly when the embedding is.
  */
case class AdcTable(child: Expression, model: Codebooks) extends VectorModelExpression {
  override def prettyName: String = "adc_table"
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = child.nullable), containsNull = false)
  override protected def kernel = "adcTable"
  override protected def run(emb: ArrayData, isDouble: Boolean): ArrayData =
    VectorKernels.adcTable(emb, isDouble, model)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column-level wrappers around the codegen'd kernels. */
object VectorExpressions {
  import org.apache.spark.sql.graft.{shims => S}

  def cosineSim(a: Column, b: Column): Column =
    S.column(CosineSimilarity(S.expression(a), S.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    S.column(DotProduct(S.expression(a), S.expression(b)))

  def l2Squared(a: Column, b: Column): Column =
    S.column(L2Squared(S.expression(a), S.expression(b)))

  def unitVector(a: Column): Column =
    S.column(UnitVector(S.expression(a)))

  def nearestCentroids(emb: Column, model: Codebooks, nProbe: Int): Column =
    S.column(NearestCentroids(S.expression(emb), model, nProbe))

  def pqEncode(emb: Column, model: Codebooks): Column =
    S.column(PqEncode(S.expression(emb), model))

  def adcTable(emb: Column, model: Codebooks): Column =
    S.column(AdcTable(S.expression(emb), model))
}
