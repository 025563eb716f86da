package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Bridge

/** Native codegen'd dot product over two float/double array columns.
  *
  * Semantics are EXACTLY the engine-parity fold used everywhere else in
  * this library (LlmOps.dot): widen each element to double (exact for
  * float), multiply, and accumulate left-to-right from +0.0 — so it is
  * bit-for-bit interchangeable with the `zip_with`+`aggregate` HOF
  * formulation and with DuckDB's `list_reduce` oracle, while running
  * inside whole-stage codegen instead of the interpreted HOF evaluator
  * (the hot path for knn / ANN / cosine near-dup at scale).
  *
  * Mismatched lengths follow the shorter array (the fixture dimension is
  * fixed at 64, so this is defensive only).
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def elemsNullable(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  // a NULL ELEMENT nulls the whole product (matching the zip_with +
  // aggregate HOF this expression is pinned bit-equal to — reading the
  // zeroed slot as 0.0 would silently diverge), so the result can be
  // null even with both array inputs non-null
  override def nullable: Boolean =
    super.nullable || elemsNullable(left) || elemsNullable(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    val bd = b.asInstanceOf[ArrayData]
    val n = math.min(ad.numElements(), bd.numElements())
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i) || bd.isNullAt(i)) return null
      val x = if (lf) ad.getFloat(i).toDouble else ad.getDouble(i)
      val y = if (rf) bd.getFloat(i).toDouble else bd.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    val checkNulls = elemsNullable(left) || elemsNullable(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      // nullSafeCodeGen declares ev.isNull only for a nullable expression
      val store =
        if (nullable) s"if (!${ev.isNull}) { ${ev.value} = $acc; }"
        else s"${ev.value} = $acc;"
      val nullCheck =
        if (checkNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $acc += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |}
         |$store
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

object DotProduct {

  /** `graft_dot(a, b)` as a Column, built from the expression itself. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
}
