package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Static vector kernels shared by the interpreted and codegen paths of
  * the vector expressions (codegen emits a call to these, so both paths
  * are the same machine code and bit-identical).
  */
object VectorOps {
  /** Cosine similarity of two float vectors in double precision.
    * Accumulation is sequential in ascending index order — the exact FP
    * shape of the DuckDB oracle's unnest-ordinality sum (and of the UDF
    * this expression replaced), so gate hashes are unchanged.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    // dimension drift (store built at one dim, queried at another) must
    // SURFACE, not silently truncate to the common prefix: NaN ranks
    // first under the ANN paths' total order, so one drifted row is
    // visible at rank 1 instead of quietly skewing every score
    if (a.numElements() != b.numElements()) return Double.NaN
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Cosine similarity of two int8-quantized vectors packed as BINARY
    * (one signed byte per dimension, values in [-127, 127] — the 1-byte
    * storage format of the q8 ANN store). The per-vector quantization
    * scales CANCEL in the cosine ratio, so this is pure integer
    * arithmetic — exact in Long (dim·127² ≪ 2⁶³), identical on any
    * engine — with one double division at the end. Zero vectors score 0
    * (they have no direction).
    */
  def cosineQ8(a: Array[Byte], b: Array[Byte]): Double = {
    if (a.length != b.length) return Double.NaN // see cosine: drift surfaces
    var dot = 0L
    var na = 0L
    var nb = 0L
    val n = a.length
    var i = 0
    while (i < n) {
      val x = a(i).toLong
      val y = b(i).toLong
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }
}

/** cosine_f(a array<float>, b array<float>) → double: cosine similarity
  * as a native Catalyst expression.
  *
  * Replaces a Scala UDF on the ANN hot path (Similarity.cosineCol —
  * evaluated once per candidate pair in the brute/LSH/IVF top-k
  * operators): the expression reads the unsafe array buffers directly
  * (no Row→Array[Float] conversion, no boxing) and participates in
  * whole-stage codegen instead of breaking the span at every UDF call.
  * Spark's own higher-order functions (aggregate/zip_with) were measured
  * ~10× slower still — their lambdas evaluate interpreted per element.
  */
case class CosineFExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloatArray(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case NullType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_f expects (array<float>, array<float>), got " +
        s"(${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_f"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.VectorOps$$.MODULE$$.cosine($a, $b);""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine_q8(a binary, b binary) → double: cosine over byte-packed
  * int8-quantized vectors as a native codegen expression — the candidate
  * scan kernel of the quantized ANN path (Similarity.ivfTopKQ8).
  */
case class CosineQ8Expr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isBinary(t: DataType): Boolean = t match {
    case BinaryType => true
    case NullType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isBinary(left.dataType) && isBinary(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_q8 expects (binary, binary), got " +
        s"(${left.dataType}, ${right.dataType})")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_q8"

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosineQ8(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.VectorOps$$.MODULE$$.cosineQ8($a, $b);""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
