package graft.query.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the positional match kernels.
  *
  * Versus the Scala UDFs they replace: inputs stay Catalyst `ArrayData`
  * (no per-row conversion to Scala Seq and back), nulls short-circuit in
  * generated code, and the NEAR kernel participates in whole-stage codegen
  * via a static-call `doGenCode`. Semantics are the reference's greedy
  * advance rules; PositionalSpec property-tests both kernels against the
  * test oracle's independent copy (graft.oracle.RefOracle).
  */
object PositionalKernels {
  /** Greedy ordered-window match (StructuredRetriever.scala:179-218
    * semantics); returns matched right-hand positions.
    */
  def near(a: ArrayData, b: ArrayData, k: Int): ArrayData = {
    val n1 = a.numElements()
    val n2 = b.numElements()
    val tmp = new Array[Int](math.min(n1, n2))
    var cnt = 0
    var i = 0
    var j = 0
    while (i < n1 && j < n2) {
      val x = a.getInt(i)
      val y = b.getInt(j)
      if (y >= x) {
        if (y - x <= k) { tmp(cnt) = y; cnt += 1; i += 1; j += 1 }
        else i += 1
      } else j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(tmp, cnt))
  }

  /** Unordered-window match count over n position lists
    * (MultimergeSturcturedRetriever.scala:173-232 semantics).
    */
  def uw(lists: ArrayData, k: Int): Int = {
    val nLists = lists.numElements()
    if (nLists == 0) return 0
    val arrs = new Array[ArrayData](nLists)
    val idx = new Array[Int](nLists)
    var t = 0
    while (t < nLists) {
      arrs(t) = lists.getArray(t)
      if (arrs(t).numElements() == 0) return 0
      t += 1
    }
    var matches = 0
    var live = true
    while (live) {
      var mn = Int.MaxValue
      var mx = Int.MinValue
      var i = 0
      while (i < nLists) {
        val p = arrs(i).getInt(idx(i))
        if (p < mn) mn = p
        if (p > mx) mx = p
        i += 1
      }
      if (mx - mn <= k) {
        matches += 1
        i = 0
        while (i < nLists) { idx(i) += 1; i += 1 }
      } else {
        i = 0
        while (i < nLists) {
          if (arrs(i).getInt(idx(i)) == mn) idx(i) += 1
          i += 1
        }
      }
      i = 0
      while (i < nLists && live) {
        if (idx(i) >= arrs(i).numElements()) live = false
        i += 1
      }
    }
    matches
  }
}

/** near_matches(pos1 array<int>, pos2 array<int>, k int) → array<int>. */
case class NearMatchesExpr(pos1: Expression, pos2: Expression, k: Expression)
    extends TernaryExpression {

  override def first: Expression = pos1
  override def second: Expression = pos2
  override def third: Expression = k

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def intArray(dt: DataType): Boolean = dt match {
      case NullType                    => true // NULL literal; eval yields null
      case ArrayType(IntegerType, _)   => true
      case _                           => false
    }
    val ok = intArray(pos1.dataType) && intArray(pos2.dataType) &&
      (k.dataType == IntegerType || k.dataType == NullType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"near_matches expects (array<int>, array<int>, int), got " +
        s"(${pos1.dataType}, ${pos2.dataType}, ${k.dataType})")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean =
    pos1.nullable || pos2.nullable || k.nullable

  override def nullSafeEval(a: Any, b: Any, kv: Any): Any =
    PositionalKernels.near(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], kv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, kv) =>
      s"""${ev.value} = graft.query.expressions.PositionalKernels$$.MODULE$$.near($a, $b, $kv);""")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(pos1 = newFirst, pos2 = newSecond, k = newThird)
}

/** uw_matches(positions array<array<int>>, k int) → int. */
case class UwMatchesExpr(lists: Expression, k: Expression)
    extends BinaryExpression {

  override def left: Expression = lists
  override def right: Expression = k

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (lists.dataType match {
      case NullType                                => true
      case ArrayType(ArrayType(IntegerType, _), _) => true
      case ArrayType(NullType, _)                  => true
      case _                                       => false
    }) && (k.dataType == IntegerType || k.dataType == NullType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"uw_matches expects (array<array<int>>, int), got " +
        s"(${lists.dataType}, ${k.dataType})")
  }
  override def dataType: DataType = IntegerType

  override def nullSafeEval(l: Any, kv: Any): Any =
    PositionalKernels.uw(l.asInstanceOf[ArrayData], kv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, kv) =>
      s"""${ev.value} = graft.query.expressions.PositionalKernels$$.MODULE$$.uw($l, $kv);""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(lists = newLeft, k = newRight)
}
